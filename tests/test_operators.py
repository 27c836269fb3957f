"""Unit tests for the dedup / similarity / text / multimodal operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_etl_automation_spark.operators import dedup, multimodal, similarity, text

from tests.conftest import SF_SMALL


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_short_doc_empty(spark):
    """ADVICE r01 high: one short doc must not abort the job."""
    df = docs_df(spark, [(1, "hi"), (2, "one two three four")])
    out = df.select("doc_id", dedup.shingles("text", 3).alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in out}
    assert by_id[1] == []
    assert by_id[2] == ["one two three", "two three four"]


def test_fanout_rebalance_fallback_matches_private_probe(spark, monkeypatch, tmp_path):
    """_fanout_rebalance's JVM-side partition probe is a private API
    (df._jdf); the portable fallback must produce the identical decision
    when the private path breaks (VERDICT r03 #8). Adaptive (AQE-wrapped)
    inputs included: the plan walk answers only where no shuffle lies on
    the output path (a broadcast join over a file scan, read without a
    job); a shuffle-topped input keeps the executing probe, whose count
    after coalescing decides the fan-out."""
    from pyspark.sql.functions import broadcast

    spark.range(40).selectExpr("id AS doc_id", "concat('doc ', id) AS text").repartition(
        3
    ).write.parquet(str(tmp_path / "docs"))
    scan = spark.read.parquet(str(tmp_path / "docs"))
    keep = spark.createDataFrame([(i,) for i in range(0, 40, 2)], "doc_id long")
    cases = {
        "local": docs_df(spark, [(i, f"doc {i}") for i in range(10)]).coalesce(1),
        # tiny shuffle: AQE coalesces it below defaultParallelism
        "shuffle_topped": scan.groupBy("doc_id").agg(F.max("text").alias("text")),
        "broadcast_over_scan": scan.join(broadcast(keep), "doc_id", "semi"),
    }
    jsc = spark.sparkContext._jsc.sc()
    walked = {}
    for name in ("shuffle_topped", "broadcast_over_scan"):
        plan = cases[name]._jdf.queryExecution().executedPlan()
        assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec", name
        before = int(jsc.dagScheduler().numTotalJobs())
        walked[name] = dedup._plan_num_partitions(plan)
        assert int(jsc.dagScheduler().numTotalJobs()) == before, name
    assert walked["shuffle_topped"] is None
    assert walked["broadcast_over_scan"] == scan.rdd.getNumPartitions()

    primary = {k: dedup._fanout_rebalance(df) for k, df in cases.items()}

    def broken(_df):
        raise AttributeError("simulated private-API drift")

    monkeypatch.setattr(dedup, "_jvm_num_partitions", broken)
    for name, df in cases.items():
        fallback = dedup._fanout_rebalance(df)
        assert (
            fallback.rdd.getNumPartitions() == primary[name].rdd.getNumPartitions()
        ), name
        assert sorted(fallback.collect()) == sorted(df.collect()), name
    # every input here has fewer partitions than cores, so both fanned out
    # (the shuffle-topped one only after AQE coalesced it)
    assert {d.rdd.getNumPartitions() for d in primary.values()} == {
        spark.sparkContext.defaultParallelism
    }


def test_exact_dedup_groups(spark):
    df = docs_df(
        spark,
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
    )
    out = {r.canonical_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_precision(spark):
    """Every emitted pair must truly meet the Jaccard threshold (precision
    invariant; recall is the probabilistic part)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely unrelated text about spark execution engines"),
        (4, "a"),  # short doc: no shingles at n=3
    ]
    df = docs_df(spark, rows)
    # 32 hashes / 16 bands -> 2 rows per band: detection probability for a
    # j~0.78 pair is 1-(1-0.78^2)^16 > 0.9999 — recall effectively certain
    pairs = dedup.minhash_lsh_pairs(df, n=3, num_hashes=32, bands=16, threshold=0.5)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    }
    for r in pairs.collect():
        assert exact[(r.id_a, r.id_b)] >= 0.5
        assert abs(exact[(r.id_a, r.id_b)] - r.jaccard) < 1e-12
    # the near-identical pair must be found (16 hashes, 4 bands, j~0.64)
    assert (1, 2) in {(r.id_a, r.id_b) for r in pairs.collect()}


def test_connected_components(spark):
    """Chain, cycle, and singleton all resolve to min-id clusters."""
    pairs = spark.createDataFrame(
        # chain 1-2-3, cycle 10-11, 11-12, 12-10
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "id long")
    out = {r.id: r.cluster_id for r in
           dedup.connected_components(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_frees_superseded_checkpoints(spark):
    """ADVICE r07: each CC iteration localCheckpoints a labels frame;
    superseded ones (and the edge frame) must be freed when dead, or a
    long-lived session clustering repeatedly accumulates O(iterations)
    checkpointed RDD blocks per call. After a call, at most the RETURNED
    labels frame's blocks may linger; the result must still be usable
    (its leaf is self-contained)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(13)], "id long")
    out = dedup.connected_components(pairs, ids)
    after = jsc.getPersistentRDDs().size()
    # a chain of diameter 12 takes several pointer-jump rounds; only the
    # final labels frame may remain
    assert after - before <= 1, (before, after)
    # the survivor is the result's backing store — still fully usable
    assert {r.cluster_id for r in out.collect()} == {0}


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    # chain of diameter 5 cannot converge in 1 iteration
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(6)], "id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, ids, max_iter=1)


def test_simhash_rejects_bad_banding(spark):
    df = docs_df(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="max_hamming < chunks"):
        dedup.simhash_near_pairs(df, max_hamming=4, chunks=4)


def test_simhash_near_pairs_matches_bruteforce(spark):
    """Pigeonhole banding (max_hamming < chunks) guarantees FULL recall:
    banded candidates filtered by exact hamming must equal the brute-force
    all-pairs answer."""
    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog again and again",
                "the quick brown fox jumps over the lazy dog again and again today",
                "entirely different content on another topic altogether",
                "the quick brown fox jumps over the lazy dog",
                "spark structured streaming micro batch offset bookkeeping",
            ]
        )
    ]
    df = docs_df(spark, rows)
    max_h = 16
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_pairs(df, max_hamming=max_h, chunks=32).collect()
    }
    fps = {r.id: r.simhash for r in dedup.simhash(df).collect()}

    def ham(a, b):
        # mask to unsigned 64-bit: fingerprints are signed longs in Spark
        return bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")

    brute = {
        (a, b, ham(a, b)) for a in fps for b in fps if a < b and ham(a, b) <= max_h
    }
    assert banded == brute and len(brute) > 0


def test_adjacent_stopwords_counted_fully(spark):
    """ADVICE r01: 'the the' must count 2, not 1."""
    df = docs_df(spark, [(1, "the the the cat")])
    out = df.select(text.stopword_ratio("text").alias("r")).first()
    assert abs(out.r - 3 / 4) < 1e-12


def test_lang_id_deterministic(spark):
    df = docs_df(
        spark,
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze ein haus"),
            (3, "xyzzy plugh"),
        ],
    )
    out = {r.doc_id: r.lang for r in
           df.select("doc_id", text.lang_id("text").alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_cosine_topk_exact(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [2, 3]
    assert out[0].cosine > 0.99


def test_embedding_near_dup_and_lsh_precision(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.1, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert set(exact) == {(1, 2)}
    # LSH variant: every emitted pair must appear in the exact answer with
    # the identical score (precision invariant; recall is tunable)
    lsh = similarity.lsh_embedding_near_dup_pairs(
        emb, threshold=0.9, num_planes=2, dim=3
    ).collect()
    for r in lsh:
        assert exact[(r.id_a, r.id_b)] == r.cosine


def test_ivf_topk_subset_of_bruteforce(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = similarity.ivf_topk(emb, q, k=3, n_cells=4, n_probe=2)
    brute = similarity.cosine_topk(emb, q, k=30)
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine for r in brute.collect()
    }
    rows = ivf.collect()
    assert len(rows) > 0
    for r in rows:
        # every IVF hit carries the true cosine (approximation affects only
        # which candidates are seen, never their scores)
        assert exact_scores[(r.query_id, r.neighbor_id)] == r.cosine
    per_q = {qid: [r for r in rows if r.query_id == qid] for qid in (0, 1, 2)}
    assert all(len(v) <= 3 for v in per_q.values())


def test_kmeans_train_mod_samples_iterations_not_seed(spark):
    """train_mod trains Lloyd on the 1/m id-modulus sample but must still
    seed from the full set (n_cells centroids even when the sample misses
    low ids) and keep search results exact-scored."""
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cent = similarity.kmeans_centroids(emb, n_cells=4, iters=1, train_mod=3)
    try:
        cells = cent.collect()
        assert 0 < len(cells) <= 4
        assert all(len(r.cvec) == 3 for r in cells)
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = similarity.ivf_topk(
            emb, q, k=3, n_cells=4, n_probe=2, centroids=cent
        ).collect()
        exact = {
            (r.query_id, r.neighbor_id): r.cosine
            for r in similarity.cosine_topk(emb, q, k=40).collect()
        }
        assert got and all(
            exact[(r.query_id, r.neighbor_id)] == r.cosine for r in got
        )
    finally:
        cent.unpersist()


def test_winnowing_shared_run_guarantee(spark):
    """Any shared run of >= k+window-1 tokens must yield at least one
    common fingerprint; short docs yield none."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7-token shared run
    df = docs_df(
        spark,
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"totally different prefix {shared} other ending"),
            (3, "nothing in common with them at all whatsoever"),
            (4, "too short"),
        ],
    )
    fps = text.winnowing_fingerprints(df, k=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared run must produce a common fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc  # below k+window-1 tokens


def test_top_terms(spark):
    df = docs_df(
        spark,
        [
            (1, "spark spark spark common"),
            (2, "duck duck common"),
            (3, "common only here"),
        ],
    )
    out = text.top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term))
    # distinctive terms outrank the corpus-wide 'common' (idf=0)
    assert sorted(by_doc[1])[0] == (1, "spark")
    assert sorted(by_doc[2])[0] == (1, "duck")
    assert all(len(v) <= 2 for v in by_doc.values())
    # idf of a term present in every doc is ln(1)=0
    common = [r for r in out if r.term == "common"]
    assert all(r.tfidf == 0.0 for r in common)


def test_redact(spark):
    df = docs_df(spark, [(1, "mail me at a.b@example.com or call 12345678 x")])
    out = df.select(text.redact("text").alias("r")).first().r
    assert out == "mail me at <EMAIL> or call <NUM> x"


def test_hash_split_deterministic_and_partition_invariant(spark):
    df = docs_df(spark, [(i, f"document body {i}") for i in range(200)])
    a = df.select("doc_id", text.hash_split("text").alias("s")).collect()
    b = (
        df.repartition(7)
        .select("doc_id", text.hash_split("text").alias("s"))
        .collect()
    )
    assert {(r.doc_id, r.s) for r in a} == {(r.doc_id, r.s) for r in b}
    frac = sum(1 for r in a if r.s == "train") / len(a)
    assert 0.8 < frac < 1.0  # ~90% train


def test_multimodal_image_features_checksum(spark):
    df = docs_df(spark, [(1, "abc"), (2, "")])
    feats = {r.doc_id: r for r in
             multimodal.image_features(multimodal.with_payload(df)).collect()}
    assert feats[1].n_bytes == 3
    assert feats[1].checksum == ord("a") + ord("b") + ord("c")
    assert feats[1].width == 3 and feats[1].height == 21 and feats[1].channels == 3
    assert feats[2].n_bytes == 0 and feats[2].checksum == 0


def test_multimodal_frame_sample_shape(spark):
    # 80 bytes -> 5 frames of 16 -> sampled idx 0, 4
    df = docs_df(spark, [(1, "x" * 80)])
    out = multimodal.frame_sample(multimodal.with_payload(df)).orderBy(
        "frame_idx"
    ).collect()
    assert [(r.frame_idx, r.frame_offset) for r in out] == [(0, 0), (4, 64)]


def test_multimodal_real_decode_is_marked_seam(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(None)


def test_lsh_embedding_bucket_cap_bounds_degenerate_buckets(spark):
    """Skew guard: a degenerate bucket (many identical embeddings) is
    dropped before the self-join, so candidate generation stays bounded —
    the 100 TB guard mirrored from dedup.minhash_lsh_pairs."""
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(40)]  # one degenerate bucket
    rows += [(100, [0.0, 1.0, 0.05]), (101, [0.0, 1.0, 0.06])]  # honest pair
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = similarity.lsh_embedding_near_dup_pairs(
        emb, threshold=0.9, num_planes=2, dim=3, max_bucket=10
    ).collect()
    # the 40 identical vectors (780 quadratic pairs) contribute nothing;
    # the honest near-dup pair in a small bucket survives
    assert all(r.id_a >= 100 for r in capped)
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}
    uncapped = similarity.lsh_embedding_near_dup_pairs(
        emb, threshold=0.9, num_planes=2, dim=3, max_bucket=100_000
    ).count()
    assert uncapped >= 40 * 39 // 2  # quadratic without the cap


def test_kmeans_ivf_recall_floor(spark):
    """IVF over kmeans_centroids must recover >= 80% of the brute-force
    top-k on a clusterable corpus (4 tight clusters, 2-probe search)."""
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    rows = []
    for i in range(40):  # deterministic jitter around the cluster axes
        rows.append(
            (
                i,
                [
                    x + 0.05 * (((i * 7 + j * 3) % 11) - 5) / 5.0
                    for j, x in enumerate(base[i % 4])
                ],
            )
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = similarity.kmeans_centroids(emb, n_cells=4, iters=2)
    assert cent.count() <= 4
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, q, k=5, n_cells=4, n_probe=2, centroids=cent
        ).collect()
    }
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.8, recall


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe LSH (all one-plane flips) must recover at least every
    pair single-probe finds (its probe set is a superset), carry exact
    scores, and reject invalid probe configs."""
    rows = [
        (i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, num_planes=6, dim=8)
    single = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.lsh_cosine_topk(emb, q, **kw).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.lsh_cosine_topk(
            emb, q, multiprobe_bits=1, **kw
        ).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, q, k=60).collect()
    }
    brute_top = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    # every multi-probe hit is exact-scored; recall never below single-probe
    assert all(exact[p] == c for p, c in multi.items())
    r_single = len(set(single) & brute_top) / len(brute_top)
    r_multi = len(set(multi) & brute_top) / len(brute_top)
    assert r_multi >= r_single
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiprobe_bits"):
        similarity.lsh_cosine_topk(emb, q, multiprobe_bits=7, **kw)
    with _pytest.raises(ValueError, match="multiprobe_bits"):
        similarity.lsh_cosine_topk(emb, q, multiprobe_bits=-1, **kw)


def test_kmeans_convergence_shift_non_increasing(spark):
    """kmeans_convergence emits one (iteration, max_shift, mean_shift) row
    per Lloyd iteration; on separable clusters the max shift must be
    non-increasing and hit 0 once assignments stabilise — the observable
    that documents when iters=2 suffices and when a caller should raise
    it."""
    # 3 tight clusters along distinct axes; seeds 0-2 land one per cluster
    rows = []
    for i in range(90):
        c = i % 3
        base = [0.0] * 6
        base[c * 2] = 10.0
        base[c * 2 + 1] = (i % 7) * 0.1  # deterministic jitter
        rows.append((i if i < 3 else i, base))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m = {
        r.iteration: r
        for r in similarity.kmeans_convergence(emb, n_cells=3, iters=4).collect()
    }
    shifts = [m[i].max_shift for i in (1, 2, 3, 4)]
    assert all(
        a >= b for a, b in zip(shifts, shifts[1:])
    ), shifts  # non-increasing
    assert shifts[-1] == 0.0, shifts  # converged: assignments stable
    assert all(m[i].mean_shift <= m[i].max_shift for i in m)


def test_lsh_multiprobe_recall_floor_on_gate_data(spark):
    """t-bit multi-probe on the REAL gate embeddings: recall@5 vs brute
    force must clear 0.9 at the documented default (6 planes, t=4) and
    grow monotonically in t. The gate vectors are near-isotropic — the
    hardest case for hyperplane LSH, which is why the default probes
    deep; clustered production embeddings need far smaller t."""
    emb = spark.read.parquet(SF_SMALL + "/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    recalls = []
    for t in (1, 2, 4):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_cosine_topk(
                emb, q, k=5, num_planes=6, multiprobe_bits=t
            ).collect()
        }
        recalls.append(len(got & brute) / len(brute))
    assert recalls == sorted(recalls), recalls  # monotone in probe depth
    assert recalls[-1] >= 0.9, recalls


def test_decontamination_lsh_subset_of_exact(spark):
    """The deployable LSH decontamination (ext_decontamination_lsh) must be
    a strict SUBSET of the exact-verifier twin on the gate corpus: every
    reported eval doc is truly contaminated (precision exact — candidates
    are Jaccard-verified inside minhash_lsh_pairs), per-doc match counts
    and max_jaccard never exceed the exact report, and recall clears a
    floor at the r=2 banding tuned for the 0.2 threshold."""
    from kafka_etl_automation_spark.plans import extensions as ext

    exact = {
        r.eval_doc_id: r
        for r in ext.ext_decontamination(spark, SF_SMALL).collect()
    }
    lsh = {
        r.eval_doc_id: r
        for r in ext.ext_decontamination_lsh(spark, SF_SMALL).collect()
    }
    assert set(lsh) <= set(exact)
    for doc_id, row in lsh.items():
        assert row.n_train_matches <= exact[doc_id].n_train_matches
        assert row.max_jaccard <= exact[doc_id].max_jaccard + 1e-12
    if exact:  # band-match prob ~0.73 at j=0.2, higher above -> generous floor
        assert len(lsh) / len(exact) >= 0.5, (len(lsh), len(exact))


def test_minhash_candidate_scopes(spark):
    """ADVICE r06: candidate_scope='star' and bipartite must actually do
    what the docstring promises.

    - star: output pairs are a SUBSET of the all-pairs run at the same
      params, and on star/clique-shaped dup families (every member similar
      to the bucket min) connected components are preserved;
    - bipartite: output equals the all-pairs run filtered to cross-label
      pairs — no same-label pair survives;
    - invalid scope / star+bipartite raise."""
    import pytest

    from kafka_etl_automation_spark.operators import dedup, text

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " lambda"),
        (3, base + " mu nu"),
        (4, "totally different content about spark execution engines here"),
        (5, "totally different content about spark execution engines too"),
        (6, "unrelated third thing entirely separate from both families"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.2, collapse_exact=False)
    allp = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(df, **kw).collect()
    }
    star = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, candidate_scope="star", **kw
        ).collect()
    }
    assert star <= allp
    # components must match on these clique-shaped families
    ids = df.select(F.col("doc_id"))

    def comps(pairs_set):
        pdf = spark.createDataFrame(
            [(a, b) for a, b in sorted(pairs_set)] or [(None, None)],
            "id_a long, id_b long",
        ).dropna()
        out = dedup.connected_components(pdf, ids, id_col="doc_id")
        return {(r.doc_id, r.cluster_id) for r in out.collect()}

    assert comps(star) == comps(allp)
    # bipartite == all-pairs filtered to cross-label
    lbl_of = {i: (1 if i % 2 else 0) for i, _ in docs}
    bip = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, bipartite=(F.col("doc_id") % 2).cast("int"), **kw
        ).collect()
    }
    assert bip == {
        (a, b) for a, b in allp if lbl_of[a] != lbl_of[b]
    }, (bip, allp)
    with pytest.raises(ValueError, match="candidate_scope"):
        dedup.minhash_lsh_pairs(df, candidate_scope="bogus", **kw)
    with pytest.raises(ValueError, match="mutually exclusive"):
        dedup.minhash_lsh_pairs(
            df,
            candidate_scope="star",
            bipartite=text.hash_split("text", 90),
            **kw,
        )
    # bipartite + collapse_exact demands an explicit content-keyed
    # attestation — a row-identity label would silently mislabel collapsed
    # members (ADVICE r07)
    with pytest.raises(ValueError, match="content_keyed"):
        dedup.minhash_lsh_pairs(
            df, bipartite=(F.col("doc_id") % 2).cast("int"), collapse_exact=True
        )
    # sig_source schema validation (ADVICE r08): a frame built with MORE
    # hashes than num_hashes must fail fast (banding over a subset would
    # silently change recall), as must a frame missing `sh` or mh columns
    sig128 = dedup.signature_sets(df, "text", "doc_id", n=3, num_hashes=128)
    with pytest.raises(ValueError, match="mh64"):
        dedup.minhash_lsh_pairs(
            None, collapse_exact=False, sig_source=sig128, **{
                k: v for k, v in kw.items() if k != "collapse_exact"
            }
        )
    sig64 = dedup.signature_sets(df, "text", "doc_id", n=3, num_hashes=64)
    with pytest.raises(ValueError, match="missing columns.*'sh'"):
        dedup.minhash_lsh_pairs(
            None, collapse_exact=False, sig_source=sig64.drop("sh"), **{
                k: v for k, v in kw.items() if k != "collapse_exact"
            }
        )
    # a CORRECT sig_source (same num_hashes, sh present) still works and
    # reproduces the inline-built pair set exactly
    via_src = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            None, collapse_exact=False, sig_source=sig64, **{
                k: v for k, v in kw.items() if k != "collapse_exact"
            }
        ).collect()
    }
    assert via_src == allp


def test_lsh_recall_floors(spark):
    """VERDICT r06 #4: pin OBSERVED recall of the two deployable LSH
    shapes against their exact twins at the gate corpus (sf0.01), not just
    the banding math.

    - decontamination: contaminated-eval-doc recall of
      ext_decontamination_lsh vs the exact ext_decontamination;
    - canonical dedup: MERGE recall — fraction of (n_docs - n_clusters)
      dedup merges achieved — of the star-LSH keep-list vs the exact
      pair source at the SAME threshold (0.5), isolating LSH recall from
      the threshold choice."""
    from kafka_etl_automation_spark.operators import dedup
    from kafka_etl_automation_spark.plans import extensions as ext

    sf = "/root/testdata/sf0.01"
    exact = {r.eval_doc_id for r in ext.ext_decontamination(spark, sf).collect()}
    lsh = {
        r.eval_doc_id for r in ext.ext_decontamination_lsh(spark, sf).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.95, (len(lsh), len(exact))

    from kafka_etl_automation_spark.catalog import load_tables

    docs = load_tables(spark, sf, names=("documents",))["documents"]
    n_docs = docs.count()
    exact_kl = dedup.canonical_keep_list(
        docs,
        pair_source=lambda reps: dedup.ngram_jaccard_pairs(
            reps, "text", "doc_id", 3, 0.5
        ),
    ).count()
    lsh_kl = dedup.canonical_keep_list(
        docs,
        pair_source=lambda reps: dedup.minhash_lsh_pairs(
            reps, n=3, num_hashes=64, bands=16, threshold=0.5,
            collapse_exact=False, candidate_scope="star",
        ),
    ).count()
    exact_merges = n_docs - exact_kl
    lsh_merges = n_docs - lsh_kl
    assert lsh_merges <= exact_merges  # precision: never merges more
    if exact_merges:
        assert lsh_merges / exact_merges >= 0.95, (lsh_merges, exact_merges)


def test_curation_pipeline_semantics(spark):
    """curate(): quality/lang/token filters drop bad docs, duplicate
    content keeps only the canonical (min id) copy, split is content-keyed
    (identical text -> identical split)."""
    from kafka_etl_automation_spark.operators import curation

    good = (
        "the cat sat of the mat and a dog ran to the park in the morning "
        "sun with a friendly smile and the birds sang of joy"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (7, good),  # exact duplicate -> only doc 1 survives
            (3, "x y"),  # too short
            (4, "der hund und die katze der ein und die der und ein die der und"),
        ],
        "doc_id long, text string",
    )
    rows = curation.curate(
        docs, min_quality=0.1, langs=("en",), min_tokens=5
    ).collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].lang == "en" and rows[0].split in ("train", "eval")


def test_token_budget_matches_naive_greedy(spark):
    """Two-pass cutoff selection must reproduce the naive global greedy
    exactly, including ties at the boundary quality value."""
    from kafka_etl_automation_spark.operators import curation

    rows = [
        # (doc_id, n_tokens, quality) — quality ties at 0.5 cross the cut
        (1, 40, 0.9),
        (2, 40, 0.7),
        (3, 30, 0.5),
        (4, 30, 0.5),
        (5, 30, 0.5),
        (6, 50, 0.3),
    ]
    scored = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, quality double"
    )
    # budget 145: 40+40 full strata, boundary 0.5 fits docs 3 and 4 only
    got = sorted(
        r.doc_id
        for r in curation.token_budget_select(scored, budget=145).collect()
    )
    assert got == [1, 2, 3, 4]
    # budget below the first stratum -> empty; huge budget -> everything
    assert curation.token_budget_select(scored, budget=39).count() == 0
    assert curation.token_budget_select(scored, budget=10_000).count() == 6


def test_stratified_sample_deterministic_and_bounded(spark):
    from kafka_etl_automation_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, f"doc number {i}", "en" if i % 5 else "fr") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    a = curation.stratified_sample(docs, "lang", {"en": 0.5}, key_col="text")
    b = curation.stratified_sample(
        docs.repartition(7), "lang", {"en": 0.5}, key_col="text"
    )
    ids_a = sorted(r.doc_id for r in a.collect())
    assert ids_a == sorted(r.doc_id for r in b.collect())  # repartition-stable
    assert 0 < len(ids_a) < 160  # ~50% of en, 0% of fr (default fraction)
    assert all(docs.filter(F.col("doc_id").isin(ids_a[:5])).collect())


def test_bigram_coherence_bounds_and_ranking(spark):
    """Fully templated text maxes out at 1.0; token-salad scores lower;
    sub-2-token docs produce no row."""
    docs = spark.createDataFrame(
        [
            (1, "the cat the cat the cat"),  # rides the corpus-mode bigram
            (2, "the dog runs"),             # (the,dog) rare given 'the'
            (3, "the cat sleeps"),           # common start, rare continuation
            (4, "x"),                        # no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.bigram_coherence(docs).collect()}
    assert set(rows) == {1, 2, 3}
    # templated text outscores both mixed docs; scores stay in (0, 1]
    assert rows[1].coherence > rows[2].coherence > rows[3].coherence
    assert all(0 < r.coherence <= 1 for r in rows.values())
    assert rows[1].n_bigrams == 5 and rows[2].n_bigrams == 2


def test_boilerplate_span_dedup_removes_shared_spans(spark):
    """Spans shared by >= min_docs distinct docs are dropped from
    clean_text; unique spans survive in original order; intra-doc repeats
    alone do NOT trigger removal (distinct-doc counting)."""
    boiler = "copyright notice all rights reserved"  # 5 words, shared
    df = docs_df(
        spark,
        [
            (1, boiler + " alpha beta gamma delta epsilon"),
            (2, boiler + " one two three four five"),
            # doc 3 repeats ITS OWN span twice — 1 distinct doc, kept
            (3, "zeta eta theta iota kappa zeta eta theta iota kappa"),
        ],
    )
    out = {
        r.doc_id: r
        for r in dedup.boilerplate_span_dedup(df, span=5, min_docs=2).collect()
    }
    assert out[1].n_spans == 2 and out[1].n_dup_spans == 1
    assert out[1].clean_text == "alpha beta gamma delta epsilon"
    assert out[2].clean_text == "one two three four five"
    assert out[1].dup_span_frac == 0.5
    # intra-doc repetition: both copies survive
    assert out[3].n_dup_spans == 0
    assert out[3].clean_text == "zeta eta theta iota kappa zeta eta theta iota kappa"


def test_boilerplate_span_dedup_all_boiler_empty_text(spark):
    """A doc made entirely of boilerplate rebuilds to the empty string
    (not NULL) so downstream length filters see it."""
    df = docs_df(spark, [(1, "aa bb cc dd ee"), (2, "aa bb cc dd ee")])
    rows = dedup.boilerplate_span_dedup(df, span=5, min_docs=2).collect()
    assert all(r.clean_text == "" and r.dup_span_frac == 1.0 for r in rows)


def test_source_cap_branches(spark):
    """Capped sources keep exactly their quota (best quality first, id
    tiebreak); uncapped sources pass through completely untouched."""
    from kafka_etl_automation_spark.operators import curation

    rows = [
        # source a: 4 docs, cap 2 -> keep the 2 best (quality desc, id asc)
        (1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.9), (4, "a", 0.1),
        # source b: uncapped -> all pass through
        (5, "b", 0.0), (6, "b", 0.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    got = {
        r.doc_id
        for r in curation.source_cap(df, caps={"a": 2}).collect()
    }
    assert got == {1, 3, 5, 6}


def test_cdc_apply_last_writer_paths(spark):
    """Every last-writer path: plain base pass-through, insert, update,
    delete, insert-then-delete, update-without-base upsert."""
    from kafka_etl_automation_spark import scd

    base = spark.createDataFrame(
        [(1, "keep"), (2, "upd"), (3, "del")], "k long, v string"
    )
    chg = spark.createDataFrame(
        [
            (2, 1, "U", "upd2"),      # update existing
            (3, 1, "D", "x"),         # delete existing
            (4, 1, "I", "new"),       # insert new key
            (5, 1, "I", "tmp"), (5, 2, "D", "x"),  # insert then delete
            (6, 1, "U", "ups"),       # update w/o base -> upsert
            (2, 0, "U", "stale"),     # stale change must lose to seq=1
        ],
        "k long, seq int, op string, v string",
    )
    got = {
        (r.k, r.v) for r in scd.cdc_apply(base, chg, ["k"]).collect()
    }
    assert got == {(1, "keep"), (2, "upd2"), (4, "new"), (6, "ups")}


def test_merge_aggregate_state_equals_recompute(spark):
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark import transform

    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 2), ("b", 7), ("b", -1)], "k string, x int"
    )

    def agg(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )

    merged = transform.merge_aggregate_state(
        agg(df.filter(F.col("x") < 3)),
        agg(df.filter(F.col("x") >= 3)),
        ["k"],
        {"n": "count", "s": "sum", "lo": "min", "hi": "max"},
    )
    full = agg(df)
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in full.collect()
    }


def test_merge_aggregate_state_rejects_non_reaggregatable(spark):
    import pytest as _pytest

    from kafka_etl_automation_spark import transform

    df = spark.range(1)
    with _pytest.raises(ValueError, match="not re-aggregatable"):
        transform.merge_aggregate_state(df, df, ["id"], {"m": "avg"})


def test_audio_windows_exact_values(spark):
    """Kernel arithmetic pinned against hand-computed frames: payload of
    known bytes, window=4 -> mean is the exact /4 double, peak the max,
    trailing partial frame dropped, short payloads emit nothing."""
    from kafka_etl_automation_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray([0, 2, 4, 6, 100, 100, 100, 104, 9, 9])),  # 2 frames + tail
         (2, bytearray([1, 2, 3]))],                              # shorter than one
        "doc_id long, payload binary",
    )
    got = {
        (r.doc_id, r.window_idx, r.start_byte, r.mean_amp, r.peak)
        for r in multimodal.audio_windows(df, window=4).collect()
    }
    assert got == {(1, 0, 0, 3.0, 6), (1, 1, 4, 101.0, 104)}


def test_assign_scores_bit_identical_to_unrolled_expression(spark):
    """The Arrow-vectorized left-fold in similarity._assign_scores must be
    BIT-identical to the in-engine unrolled element_at chain it replaced
    (same IEEE op sequence: acc from 0.0 in index order, widen, norms
    multiplied before the one divide) — raw doubles compared with ==, no
    tolerance, across a non-trivial partitioning."""
    import random

    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.operators import similarity

    random.seed(13)
    dim = 16
    vecs = [
        (i, [random.uniform(-2, 2) for _ in range(dim)]) for i in range(60)
    ]
    df = spark.createDataFrame(
        vecs, "vid long, e array<double>"
    ).repartition(5)
    cent = spark.createDataFrame(
        [(j, [random.uniform(-2, 2) for _ in range(dim)]) for j in range(4)],
        "cell long, ce array<double>",
    )
    got = {
        (r.vid, r.cell): r.csim_raw
        for r in similarity._assign_scores(df, cent, "vid", "e").collect()
    }
    want_df = df.join(F.broadcast(cent)).select(
        "vid",
        "cell",
        (
            similarity._dot(F.col("e"), F.col("ce"), dim)
            / (
                similarity._norm(F.col("e"), dim)
                * similarity._norm(F.col("ce"), dim)
            )
        ).alias("csim_raw"),
    )
    want = {(r.vid, r.cell): r.csim_raw for r in want_df.collect()}
    assert set(got) == set(want)
    assert all(got[k] == want[k] for k in want)  # bitwise, no tolerance


def test_assign_scores_empty_centroids(spark):
    """An empty centroid frame (empty corpus) yields an empty score frame
    with the contract schema instead of a numpy shape error."""
    from kafka_etl_automation_spark.operators import similarity

    df = spark.createDataFrame([(1, [1.0, 2.0])], "vid long, e array<double>")
    cent = spark.createDataFrame([], "cell long, ce array<double>")
    out = similarity._assign_scores(df, cent, "vid", "e")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vid", "cell", "csim_raw"]


def test_assign_scores_zero_norm_and_string_ids(spark):
    """ADVICE r05 pair: (a) a zero-norm vector must DROP OUT of scoring
    (the in-engine path's divide-by-zero yielded NULL csim, never a NaN
    that would win max_by ordering); a zero-norm centroid likewise emits
    no score rows. (b) the Arrow output schema must mirror the caller's
    id type — string doc ids flow through unchanged."""
    from kafka_etl_automation_spark.operators import similarity

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("zero", [0.0, 0.0]), ("b", [0.0, 2.0])],
        "vid string, e array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [0.0, 0.0])], "cell long, ce array<double>"
    )
    out = similarity._assign_scores(df, cent, "vid", "e")
    assert out.schema["vid"].dataType.simpleString() == "string"
    rows = out.collect()
    got = {(r.vid, r.cell) for r in rows}
    # only finite-norm vector x finite-norm centroid combinations remain
    assert got == {("a", 0), ("b", 0)}
    assert all(r.csim_raw == r.csim_raw for r in rows)  # no NaN survives


def test_exact_sum_out_of_range_raises(spark):
    """ADVICE r05: an input whose integer part overflows the compact hi
    buffer must FAIL LOUDLY (raise_error), not NULL-out under non-ANSI
    overflow and silently corrupt the sum."""
    import pytest
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.functions import scalar

    df = spark.createDataFrame([(1e8 + 5.0,)], "x double")
    with pytest.raises(Exception, match="exact_sum input out of range"):
        df.agg(
            scalar.exact_sum(F.col("x").cast("decimal(20,2)"), scale=2)
        ).collect()
    with pytest.raises(Exception, match="exact_sum input out of range"):
        df.agg(
            scalar.exact_sum_scale10(F.col("x").cast("decimal(30,10)"))
        ).collect()


def test_exact_sum_negative_boundary_and_nulls(spark):
    """ADVICE r06 pair of _guarded_floor regressions:
    (1) fractional x in (-10^d, -(10^d - 1)) — e.g. -99999999.5 with d=8 —
        passed the old abs(x) < 10^d guard while floor(x) = -10^d
        overflowed decimal(d,0) to NULL, silently corrupting the sum;
        the guard must now bound the FLOORED value, keeping the sum exact;
    (2) NULL inputs must be SKIPPED like plain SUM, not routed into
        raise_error by a NULL when-condition."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.functions import scalar

    # (1) fractional x whose FLOOR overflows must raise, not NULL-corrupt:
    # floor(-99999999.5) = -1e8, one past decimal(8,0)'s -(1e8-1) floor —
    # the old abs(x) < 1e8 guard waved it through
    bad = spark.createDataFrame([("-99999999.5",)], "x string").select(
        F.col("x").cast("decimal(20,2)").alias("x")
    )
    with pytest.raises(Exception, match="exact_sum input out of range"):
        bad.agg(scalar.exact_sum(F.col("x"), scale=2)).collect()
    with pytest.raises(Exception, match="exact_sum input out of range"):
        bad.select(F.col("x").cast("decimal(30,10)").alias("x")).agg(
            scalar.exact_sum_scale10(F.col("x"))
        ).collect()
    # one step inside the boundary stays exact (floor = -(1e8-1), fits)
    df = spark.createDataFrame(
        [("-99999998.5",), ("2.25",)], "x string"
    ).select(F.col("x").cast("decimal(20,2)").alias("x"))
    got = df.agg(scalar.exact_sum(F.col("x"), scale=2).alias("s")).collect()[0].s
    assert got == Decimal("-99999996.25"), got
    got10 = (
        df.select(F.col("x").cast("decimal(30,10)").alias("x"))
        .agg(scalar.exact_sum_scale10(F.col("x")).alias("s"))
        .collect()[0]
        .s
    )
    assert got10 == Decimal("-99999996.2500000000"), got10
    # (2) NULLs skip, matching SUM semantics
    dfn = spark.createDataFrame(
        [("1.50",), (None,), ("2.25",)], "x string"
    ).select(F.col("x").cast("decimal(20,2)").alias("x"))
    got = dfn.agg(scalar.exact_sum(F.col("x"), scale=2).alias("s")).collect()[0].s
    assert got == Decimal("3.75"), got
    allnull = spark.createDataFrame([(None,), (None,)], "x string").select(
        F.col("x").cast("decimal(20,2)").alias("x")
    )
    assert (
        allnull.agg(scalar.exact_sum(F.col("x"), scale=2).alias("s"))
        .collect()[0]
        .s
        is None
    )


def test_collapse_cache_registry_bounded(spark):
    """ADVICE r05: repeated collapse-backed calls in one session must not
    accumulate persisted member maps without bound; release() empties."""
    from kafka_etl_automation_spark import runtime
    from kafka_etl_automation_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"text {i % 3}") for i in range(12)], "doc_id long, text string"
    )
    for _ in range(runtime.POOL_CAPS["collapse"] + 3):
        reps, members = dedup._exact_text_collapse(df, "text", "doc_id")
        members.count()
    assert len(runtime._POOLS["collapse"]) <= runtime.POOL_CAPS["collapse"]
    assert dedup.release_collapse_caches() >= 1
    assert not runtime._POOLS["collapse"]


def test_canonical_keep_list_invariants(spark):
    """Structural invariants of the keep-list contract, for BOTH pair
    sources: member counts partition the corpus exactly (sum == n docs),
    keep ids are distinct docs, and every exact-duplicate group ends up in
    one cluster whose keep id is its min member. The LSH-backed variant
    may split near-dup clusters the exact source merges (recall < 1 /
    higher threshold) but can never merge clusters the exact one splits
    at the same threshold, so n_clusters_lsh >= n_clusters_exact."""
    from kafka_etl_automation_spark.operators import dedup

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (5, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (2, "alpha beta gamma delta epsilon eta"),    # near-dup of 1
        (3, "completely different text about spark engines"),
        (4, "yet another unrelated document body here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = dedup.canonical_keep_list(df, n=3, threshold=0.2)
    rows = {r.keep_id: r.n_members for r in exact.collect()}
    assert sum(rows.values()) == len(docs)
    assert 1 in rows and rows[1] >= 2  # 1+5 collapse; 2 likely joins
    assert 5 not in rows  # dup member never a keep id
    lsh = dedup.canonical_keep_list(
        df,
        pair_source=lambda reps: dedup.minhash_lsh_pairs(
            reps, n=3, num_hashes=64, bands=16, threshold=0.2,
            collapse_exact=False,
        ),
    )
    lrows = {r.keep_id: r.n_members for r in lsh.collect()}
    assert sum(lrows.values()) == len(docs)
    assert len(lrows) >= len(rows)
    assert 5 not in lrows


def test_token_counts_match_split_pipeline(spark):
    """token_count / bpe_ish_token_count (length-arithmetic / run-count
    formulations) must equal the historical split-array pipeline exactly,
    including empty, whitespace-only, punctuation-run and mixed-class
    edges."""
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.operators import text as t

    samples = [
        "", "   ", "\t\n", "hello world", "  padded   text  ",
        "a1b2c3", "price: $1,234.56!!", "...", "éàü non-ascii",
        "UPPER lower 42", "one", "1 2 3", "a-b_c", "x" * 500,
        "word, word,   word!", "tabs\tand\nnewlines here",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    pieces = F.regexp_replace(
        F.lower(F.col("text")), r"([0-9]+|[^a-z0-9\s]+)", r" $1 "
    )
    old = df.select(
        "text",
        F.size(F.split(t.normalized_text("text"), " ")).alias("old_ws"),
        F.size(
            F.split(F.trim(F.regexp_replace(pieces, r"\s+", " ")), " ")
        ).alias("old_bpe"),
        t.token_count("text").alias("new_ws"),
        t.bpe_ish_token_count("text").alias("new_bpe"),
    ).collect()
    for r in old:
        assert r.new_ws == r.old_ws, (r.text, r.old_ws, r.new_ws)
        assert r.new_bpe == r.old_bpe, (r.text, r.old_bpe, r.new_bpe)


def test_word_hits_count_forms_agree(spark):
    """regexp_count over the lookaround pattern must equal the historical
    size(split(...)) - 1 form — including adjacent repeats, prefix
    shadowing, and matches at the text edges."""
    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.operators import text as t

    words = ("the", "a", "and", "of")
    samples = [
        "", "the", "the the", "a and the of", "cathedral theory",
        "of the people and for a cause", "and", "the end of the line the",
        "no stop words here", "a a a a a", "andes the andorra",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    pat = "(?<= )(?:" + "|".join(words) + ")(?= )"
    padded = F.concat(F.lit(" "), t.normalized_text("text"), F.lit(" "))
    rows = df.select(
        "text",
        (F.size(F.split(padded, pat)) - F.lit(1)).cast("double").alias("old"),
        t._word_hits("text", words).alias("new"),
    ).collect()
    for r in rows:
        assert r.new == r.old, (r.text, r.old, r.new)


def test_lsh_exact_collapse_preserves_pairs(spark):
    """collapse_exact=True (the deployable shape after the 100x
    scale-proof) must emit the SAME pair set with the SAME scores as the
    uncollapsed pipeline on a corpus with real exact-dup clusters —
    identical texts have identical signatures, so collapsing + member
    fan-out is a pure plan transformation at these bucket sizes."""
    rows = [
        # exact-dup cluster of 3
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (7, "the quick brown fox jumps over the lazy dog today"),
        # near-dup of the cluster
        (3, "the quick brown fox jumps over the lazy dog tonight"),
        # exact-dup cluster of 2, unrelated content
        (4, "completely unrelated text about spark execution engines"),
        (5, "completely unrelated text about spark execution engines"),
        # singleton + shingle-less short doc (never emits)
        (6, "some other document entirely different from the rest"),
        (8, "a"),
    ]
    df = docs_df(spark, rows)

    def key_mh(frame):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 12)) for r in frame.collect()
        }

    kw = dict(n=3, num_hashes=32, bands=16, threshold=0.5)
    collapsed = key_mh(dedup.minhash_lsh_pairs(df, **kw))
    plain = key_mh(dedup.minhash_lsh_pairs(df, collapse_exact=False, **kw))
    assert collapsed == plain
    # the dup clusters must actually be in there, at jaccard exactly 1.0
    assert {(1, 2, 1.0), (1, 7, 1.0), (2, 7, 1.0), (4, 5, 1.0)} <= collapsed

    def key_sh(frame):
        return {(r.id_a, r.id_b, r.hamming) for r in frame.collect()}

    collapsed_s = key_sh(dedup.simhash_near_pairs(df, max_hamming=3, chunks=4))
    plain_s = key_sh(
        dedup.simhash_near_pairs(df, max_hamming=3, chunks=4, collapse_exact=False)
    )
    assert collapsed_s == plain_s
    assert {(1, 2, 0), (1, 7, 0), (2, 7, 0), (4, 5, 0)} <= collapsed_s
    # schema must be unchanged by the expansion union
    out = dedup.simhash_near_pairs(df, max_hamming=3, chunks=4)
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "hamming"]


def test_decontamination_canonical_invariants(spark):
    """decontaminate_canonical (r07): decontamination against the DEDUPED
    train corpus. Invariants vs the full-train exact report at sf0.01:

    - subset: kept docs are train docs, so every flagged eval doc (exact
      AND lsh variants — verification is exact in both) must appear in
      the full exact report, with per-doc n_train_matches and max_jaccard
      never exceeding it;
    - cluster semantics: n_train_matches counts matched train CLUSTERS,
      so it can only shrink vs the raw per-doc count;
    - recall floor of the deployable LSH twin vs the exact canonical
      twin (r=2 banding at threshold 0.2)."""
    from kafka_etl_automation_spark.plans import extensions as ext

    full = {
        r.eval_doc_id: r
        for r in ext.ext_decontamination(spark, SF_SMALL).collect()
    }
    canon = {
        r.eval_doc_id: r
        for r in ext.ext_decontamination_canonical(spark, SF_SMALL).collect()
    }
    lsh = {
        r.eval_doc_id: r
        for r in ext.ext_decontamination_canonical_lsh(spark, SF_SMALL).collect()
    }
    # every canonical match is a true train match (keeps are train docs)
    assert set(canon) <= set(full)
    for doc_id, row in canon.items():
        assert row.n_train_matches <= full[doc_id].n_train_matches
        assert row.max_jaccard <= full[doc_id].max_jaccard + 1e-12
    # the LSH twin exact-verifies candidates, so its matches are true
    # matches against SOME keep-list's kept docs — still train docs
    assert set(lsh) <= set(full)
    for doc_id, row in lsh.items():
        assert row.max_jaccard <= full[doc_id].max_jaccard + 1e-12
    # recall floor vs the exact canonical twin
    if canon:
        assert len(set(lsh) & set(canon)) / len(canon) >= 0.95, (
            sorted(lsh), sorted(canon),
        )


def test_ngram_overlap_decontamination_semantics(spark):
    """Constructed-corpus pin for the exact 8-gram containment contract:
    a verbatim >= 8-token passage shared with ANY train doc flags the eval
    doc (even when whole-doc Jaccard is tiny); an eval doc with no shared
    8-gram never appears; sub-8-token docs carry no grams; n_grams /
    n_overlap / overlap_frac are exact counts of the doc's distinct grams.
    The split column is forced via a monkeypatched-free route: texts are
    chosen so hash_split puts them where the test needs them — instead we
    call the OPERATOR with train_pct swept so each doc's bucket is known."""
    from kafka_etl_automation_spark.operators import curation, text as t_ops

    passage = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    filler_train = " ".join(f"trainword{i}" for i in range(40))
    filler_eval = " ".join(f"evalword{i}" for i in range(40))
    clean_eval = " ".join(f"cleanword{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, f"{filler_train} {passage}"),          # train carrier
            (2, f"{filler_eval} {passage}"),            # eval, leaked passage
            (3, clean_eval),                            # eval, clean
            (4, "too short doc"),                       # < 8 tokens
        ],
        "doc_id long, text string",
    )
    # pin splits deterministically by reading each text's hash bucket and
    # passing a train_pct that puts doc 1 in train and docs 2-4 in eval
    buckets = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id",
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
            .cast("long").__mod__(100).alias("b"),
        ).collect()
    }
    # choose train_pct between doc1's bucket (inclusive) and the eval docs'
    # buckets: needs bucket(1) < train_pct <= min(others). If the synthetic
    # texts don't land that way, nudge doc texts with a salt suffix.
    salt = 0
    while not (
        buckets[1] < min(buckets[2], buckets[3], buckets[4])
    ):
        salt += 1
        docs = spark.createDataFrame(
            [
                (1, f"{filler_train} {passage} salt{salt}"),
                (2, f"{filler_eval} {passage}"),
                (3, clean_eval),
                (4, "too short doc"),
            ],
            "doc_id long, text string",
        )
        buckets = {
            r.doc_id: r.b
            for r in docs.select(
                "doc_id",
                F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
                .cast("long").__mod__(100).alias("b"),
            ).collect()
        }
        assert salt < 50, "could not construct split assignment"
    train_pct = buckets[1] + 1

    out = {
        r.eval_doc_id: r
        for r in curation.ngram_overlap_decontamination(
            docs, n=8, train_pct=train_pct
        ).collect()
    }
    # doc 2 flagged via the verbatim passage; docs 3 (clean) and 4 (short)
    # absent; doc 1 is train so never reported
    assert set(out) == {2}
    row = out[2]
    # doc 2 has 48 tokens -> 41 distinct 8-grams; exactly the 1 gram fully
    # inside the passage is shared (filler differs on every other gram)
    assert row.n_grams == 41
    assert row.n_overlap == 1
    assert abs(row.overlap_frac - 1 / 41) < 1e-12

    # min_grams gate: requiring 2 shared grams clears the report
    assert (
        curation.ngram_overlap_decontamination(
            docs, n=8, train_pct=train_pct, min_grams=2
        ).count()
        == 0
    )


def test_ngram_overlap_bloom_superset(spark):
    """The segment-sharded bloom containment variant (VERDICT r08 #3) has
    no false negatives: on the gate corpus its flagged set must be a
    SUPERSET of the exact twin's, with per-doc n_grams identical and
    n_overlap >= the exact count; at fpp tight enough for the corpus the
    report is IDENTICAL. Also pins multi-segment sharding (segments > 1
    routes grams across blooms) and the expected_grams sizing path."""
    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import curation

    docs = load_tables(spark, SF_SMALL, names=("documents",))["documents"]
    exact = {
        r.eval_doc_id: r
        for r in curation.ngram_overlap_decontamination(docs).collect()
    }
    # multi-segment + auto-sized (token-count upper-bound sizing path)
    bloom = {
        r.eval_doc_id: r
        for r in curation.ngram_overlap_decontamination_bloom(
            docs, segments=8
        ).collect()
    }
    assert set(exact) <= set(bloom)
    for k, er in exact.items():
        br = bloom[k]
        assert br.n_grams == er.n_grams, (k, br.n_grams, er.n_grams)
        assert br.n_overlap >= er.n_overlap, (k, br.n_overlap, er.n_overlap)
    # tight fpp + explicit sizing -> exact report reproduced
    tight = {
        (r.eval_doc_id, r.n_grams, r.n_overlap)
        for r in curation.ngram_overlap_decontamination_bloom(
            docs, fpp=1e-6, expected_grams=200_000, segments=4
        ).collect()
    }
    assert tight == {
        (r.eval_doc_id, r.n_grams, r.n_overlap) for r in exact.values()
    }


def test_shingle_hash_rows_formulations(spark):
    """The shipped zero-exchange zero-copy shingle-hash build (r09:
    explode(sequence) + element_at) must be row-multiset-identical to
    BOTH superseded formulations — the r07 posexplode + window-lead
    shape (whose own equality to the original HOF transform() path was
    verified when IT landed) and the r08 slice + arrays_zip shape — on
    the real gate corpus, duplicates and short docs included."""
    from pyspark.sql import Window

    from kafka_etl_automation_spark.operators import dedup
    from kafka_etl_automation_spark.catalog import load_tables

    docs = load_tables(spark, SF_SMALL, names=("documents",))["documents"]
    # add adversarial rows: exact-duplicate shingles, sub-n docs, empties
    extra = spark.createDataFrame(
        [
            (90001, "a b a b a b a b"),   # duplicate shingles retained
            (90002, "one two"),            # < n tokens -> no rows
            (90003, ""),                    # empty
        ],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    n = 3

    got = dedup._shingle_hash_rows(docs, "text", "doc_id", n)

    ex = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(dedup.tokens("text")).alias("pos", "t0"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.lead("t0", k).over(w).alias(f"t{k}") for k in range(1, n)]
    ref = (
        ex.select("id", "t0", *lead_cols)
        .filter(F.col(f"t{n - 1}").isNotNull())
        .select("id", F.xxhash64(*[F.col(f"t{k}") for k in range(n)]).alias("sh"))
    )

    # the superseded r08 slice + arrays_zip formulation
    toks = dedup.tokens("text")
    base = docs.select(
        F.col("doc_id").alias("id"),
        toks.alias("tk"),
        (F.size(toks) - (n - 1)).alias("m"),
    ).filter(F.col("m") >= 1)
    z = F.arrays_zip(
        *[F.slice("tk", i + 1, F.col("m")).alias(f"t{i}") for i in range(n)]
    )
    ref_zip = base.select("id", F.explode(z).alias("s")).select(
        "id",
        F.xxhash64(*[F.col("s")[f"t{k}"] for k in range(n)]).alias("sh"),
    )

    def multiset(df):
        return {
            (r.id, r.sh, r.c)
            for r in df.groupBy("id", "sh").agg(F.count("*").alias("c")).collect()
        }

    got_ms = multiset(got)
    assert got_ms == multiset(ref)
    assert got_ms == multiset(ref_zip)
    # the duplicate-shingle doc keeps its multiplicities
    dup_rows = got.filter(F.col("id") == 90001).groupBy("sh").count().collect()
    assert sorted(r["count"] for r in dup_rows) == [3, 3]  # "a b a" x3, "b a b" x3
    assert got.filter(F.col("id").isin(90002, 90003)).count() == 0


def test_exploded_shingles_matches_shingles(spark):
    """The zero-exchange _exploded_shingles (slice + arrays_zip +
    array_distinct, r08) must equal explode(shingles()) — the HOF
    reference it replaced — per (id, shingle) set on the gate corpus plus
    adversarial duplicate/short/empty docs."""
    from kafka_etl_automation_spark.operators import dedup
    from kafka_etl_automation_spark.catalog import load_tables

    docs = load_tables(spark, SF_SMALL, names=("documents",))["documents"]
    extra = spark.createDataFrame(
        [
            (90001, "a b a b a b a b"),  # dup shingles -> distinct set
            (90002, "one two"),
            (90003, ""),
        ],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    n = 3

    got = {
        (r.id, r.sh)
        for r in dedup._exploded_shingles(docs, "text", "doc_id", n).collect()
    }
    ref = {
        (r.id, r.sh)
        for r in docs.select(
            F.col("doc_id").alias("id"),
            F.explode(dedup.shingles("text", n)).alias("sh"),
        ).collect()
    }
    assert got == ref
    assert (90001, "a b a") in got and (90001, "b a b") in got
    assert len([1 for i, _ in got if i == 90001]) == 2  # distinct, not 6


def test_grouped_verify_matches_pairs(spark):
    """VERDICT r09 #1: per-BUCKET grouped verification (ship each bucket's
    c signature sets once instead of c² pair copies) must be VALUE-identical
    to the per-pair verify-join shape on every contract it serves —
    all-pairs with exact collapse (member fan-out + within-group identity
    pairs included), bipartite, and the shared-signature sig_source mode
    the canonical decontamination pipeline uses. Star scope verifies by
    pairs only, and the retired r10 per-band shape is rejected."""
    from pyspark import StorageLevel

    from kafka_etl_automation_spark.operators import dedup, text

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "totally different content about spark execution engines"
    rows = []
    for fam in range(6):
        stem = f"{base} fam{fam}"
        rows += [
            (fam * 10 + 1, stem),
            (fam * 10 + 2, stem + " lambda"),
            (fam * 10 + 3, stem + " mu nu"),
            (fam * 10 + 4, stem),  # exact duplicate -> collapse + fan-out
        ]
    rows += [(100 + i, f"{other} v{i % 2}") for i in range(6)]  # 2 dup groups
    rows += [(200, "unrelated singleton content entirely separate here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def res(d):
        return sorted((r.id_a, r.id_b, round(r.jaccard, 12)) for r in d.collect())

    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.3)
    # all-pairs, collapse on (ext_minhash_lsh contract); r11: "grouped" is
    # the once-per-pair min-band shape
    a_p = res(dedup.minhash_lsh_pairs(df, verify="pairs", **kw))
    a_g = res(dedup.minhash_lsh_pairs(df, verify="grouped", **kw))
    assert a_p == a_g and len(a_p) > 10
    # star (keep-list contract) verifies by pairs only
    skw = dict(kw, collapse_exact=False, candidate_scope="star")
    with pytest.raises(ValueError, match="star"):
        dedup.minhash_lsh_pairs(df, verify="grouped", **skw)
    # bipartite with content-keyed label (cross-split contract)
    bkw = dict(
        kw,
        threshold=0.2,
        bands=32,
        bipartite=text.hash_split("text", 50),
        content_keyed=True,
    )
    b_p = res(dedup.minhash_lsh_pairs(df, verify="pairs", **bkw))
    b_g = res(dedup.minhash_lsh_pairs(df, verify="grouped", **bkw))
    assert b_p == b_g
    # attested-binary label (hash_split): the plan-time branch skip must
    # be value-identical to the unattested plan
    b_a = res(dedup.minhash_lsh_pairs(df, verify="grouped", max_labels=2, **bkw))
    assert b_p == b_a
    with pytest.raises(ValueError, match="max_labels"):
        dedup.minhash_lsh_pairs(df, verify="grouped", max_labels=2, **kw)
    # >2 distinct labels exercises grouped's within-db enumeration branch
    # (the min-label block-split covers only cross pairs touching the min
    # label; label2 x label3 pairs come from the nl>2-gated branch)
    tkw3 = dict(
        kw,
        threshold=0.2,
        bands=32,
        collapse_exact=False,
        bipartite=F.pmod(F.xxhash64("text"), F.lit(3)),
    )
    t_p = res(dedup.minhash_lsh_pairs(df, verify="pairs", **tkw3))
    t_g = res(dedup.minhash_lsh_pairs(df, verify="grouped", **tkw3))
    assert t_p == t_g and len(t_p) > 0
    # sig_source modes (the decontaminate_canonical_lsh passes)
    reps, members = dedup._exact_text_collapse(df, "text", "doc_id")
    sig = (
        dedup.signature_sets(reps, "text", "doc_id", 3, 64)
        .join(
            reps.select(
                F.col("doc_id").alias("id"),
                text.hash_split("text", 50).alias("_lbl"),
            ),
            "id",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig.count()
    gkw = dict(
        n=3, num_hashes=64, bands=32, threshold=0.2,
        collapse_exact=False, sig_source=sig, bipartite_col="_lbl",
    )
    assert res(dedup.minhash_lsh_pairs(None, verify="pairs", **gkw)) == res(
        dedup.minhash_lsh_pairs(None, verify="grouped", **gkw)
    )
    sig.unpersist()
    with pytest.raises(ValueError, match="verify"):
        dedup.minhash_lsh_pairs(df, verify="bogus", **kw)
    # the r10 per-band control shape is retired
    with pytest.raises(ValueError, match="verify"):
        dedup.minhash_lsh_pairs(df, verify="grouped_perband", **kw)


def test_lsh_cap_stats_are_loud(spark):
    """VERDICT r09 #2: the max_bucket cap must never discard candidates
    silently — stats reports dropped_buckets / dropped_emissions in both
    LSH families, and they reconcile with the uncapped run."""
    from kafka_etl_automation_spark.operators import dedup

    # one 6-member near-identical family -> crowded buckets
    stem = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{stem} tail{i % 2} x") for i in range(6)]
    rows += [(10, "unrelated content one here"), (11, "unrelated content two here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.2, collapse_exact=False)
    st_open: dict = {}
    open_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, max_bucket=1000, stats=st_open, **kw
        ).collect()
    }
    assert st_open["dropped_buckets"] == 0 and st_open["dropped_emissions"] == 0
    st_cap: dict = {}
    cap_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, max_bucket=2, stats=st_cap, **kw
        ).collect()
    }
    assert st_cap["dropped_buckets"] > 0 and st_cap["dropped_emissions"] > 0
    assert cap_pairs <= open_pairs
    # emissions conservation: kept work + dropped work == uncapped work
    assert (
        st_cap["bucket_join_work"] + st_cap["dropped_emissions"]
        == st_open["bucket_join_work"]
    )
    # simhash's opt-in cap reports the same stats contract
    st_sim: dict = {}
    dedup.simhash_near_pairs(
        df, max_hamming=3, chunks=4, collapse_exact=False,
        max_bucket=2, stats=st_sim,
    ).count()
    assert st_sim["dropped_buckets"] > 0 and st_sim["dropped_emissions"] > 0


def test_lsh_cap_warns_in_shipping_path(spark, caplog, monkeypatch):
    """VERDICT r10 #3 as amended by VERDICT r12 #1: the cap audit is loud
    WITHOUT a stats probe whenever the FULL audit runs — which, for an
    explicit int cap with stats=None, is exactly when the worst-case kept
    volume (banded_rows * (cap-1) / 2) exceeds the flood ceiling, i.e. on
    every corpus where a cap has ever measurably bitten (the 900x/2700x
    octaves). Below that bound the histogram job is skipped outright (the
    r13 fast path — the cap-bite WARN is traded for one less aggregation
    per operator build; 'auto' and stats= callers always get the full
    audit). Pins both directions by shrinking the ceiling so the same tiny
    corpus exercises the full-audit path."""
    import logging

    from kafka_etl_automation_spark.operators import dedup

    stem = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{stem} tail{i % 2} x") for i in range(6)]
    rows += [(10, "unrelated content one here"), (11, "unrelated content two here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.2, collapse_exact=False)

    logger = "kafka_etl_automation_spark.operators.dedup"
    # full-audit regime (worst-case bound above the skip bound): loud cap
    monkeypatch.setattr(dedup, "_AUDIT_SKIP_MAX_WORST", 10)
    with caplog.at_level(logging.WARNING, logger=logger):
        dedup.minhash_lsh_pairs(df, max_bucket=2, **kw)  # no action needed
    hits = [r for r in caplog.records if "max_bucket=2 dropped" in r.getMessage()]
    assert len(hits) == 1 and hits[0].levelno == logging.WARNING

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        dedup.minhash_lsh_pairs(df, max_bucket=1000, **kw)
    assert not [r for r in caplog.records if "dropped" in r.getMessage()]

    # fast path (bound under the real skip bound): histogram skipped,
    # silent — and the emitted pairs are identical to the audited run's
    monkeypatch.setattr(dedup, "_AUDIT_SKIP_MAX_WORST", 800_000_000)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        fast = dedup.minhash_lsh_pairs(df, max_bucket=2, **kw)
    assert not [r for r in caplog.records if "dropped" in r.getMessage()]
    st: dict = {}
    audited = dedup.minhash_lsh_pairs(df, max_bucket=2, stats=st, **kw)
    assert st["dropped_buckets"] > 0  # the cap really bites on this corpus
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, audited.collect())
    )


def test_auto_max_bucket_resolution(spark, caplog, monkeypatch):
    """VERDICT r11 #1: max_bucket='auto' (the r12 default) must keep
    duplicate-FAMILY corpora uncapped (the fixed-1000 default discarded 50%
    of true merges at 2700x, where the capped-out buckets WERE the dup
    families) while the skew guard still bites on boilerplate floods whose
    in-bucket quadratic work outruns the scale-free emissions-per-banded-row
    budget. Also pins the ADVICE r11 medium: max_bucket=None used to
    silently emit ZERO pairs (bsz <= NULL) — it is now the documented
    uncapped spelling."""
    import logging

    from kafka_etl_automation_spark.operators import dedup

    # family-heavy corpus: one 8-member near-dup family + background docs
    stem = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{stem} tail{i % 2} x") for i in range(8)]
    rows += [(100 + i, f"unrelated background content number {i} here") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.2, collapse_exact=False)

    st_auto: dict = {}
    auto_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(df, stats=st_auto, **kw).collect()
    }
    # family work is linear-ish in banded rows -> auto resolves UNCAPPED
    assert st_auto["effective_max_bucket"] is None
    assert st_auto["dropped_buckets"] == 0 and st_auto["dropped_emissions"] == 0
    # explicit None (uncapped) matches auto and is NONZERO (the old bug
    # filtered every bucket row through bsz <= NULL)
    none_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(df, max_bucket=None, **kw).collect()
    }
    assert none_pairs == auto_pairs and len(none_pairs) > 0
    # a generous explicit cap matches too (family size << cap)
    cap_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(df, max_bucket=1000, **kw).collect()
    }
    assert cap_pairs == auto_pairs

    # boilerplate flood: shrink the budget so the same bucket-size
    # distribution now reads as quadratic-dominated -> guard engages,
    # WARNs, and drops the flooded buckets
    logger = "kafka_etl_automation_spark.operators.dedup"
    st_guard: dict = {}
    monkeypatch.setattr(dedup, "_AUTO_WORK_PER_ROW", 0.5)
    with caplog.at_level(logging.WARNING, logger=logger):
        guard_pairs = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(df, stats=st_guard, **kw).collect()
        }
    assert st_guard["effective_max_bucket"] is not None
    assert st_guard["dropped_buckets"] > 0 and st_guard["dropped_emissions"] > 0
    assert guard_pairs <= auto_pairs
    assert [
        r for r in caplog.records if "engaged the skew guard" in r.getMessage()
    ]
    # emissions conservation under the auto-chosen cap
    assert (
        st_guard["bucket_join_work"] + st_guard["dropped_emissions"]
        == st_auto["bucket_join_work"]
    )
    # invalid spellings fail fast
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.minhash_lsh_pairs(df, max_bucket="uncapped", **kw)
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.minhash_lsh_pairs(df, max_bucket=1, **kw)


def test_once_per_pair_reduction_packed_is_hash_aggregable(spark):
    """VERDICT r11 #2: the once-per-pair reduction's min over a STRUCT
    compiled to SortAggregate — a full sort (+ spill) of the narrow
    candidate stream, the dominant remaining flood-octave cost. The packed
    formulation (bit-packed (band, w, i, j) long + min_by(bkey, packed))
    must (a) compile to HashAggregate with a map-side partial — NO
    SortAggregate anywhere in the plan — on the all-pairs and bipartite
    contracts, and (b) past the packing bounds (bands > 256) fall back to
    the struct min, which stays value-identical to per-pair verification
    (same row selected: within one (band, w) a pair occupies exactly one
    bucket and one (i, j), so bkey never tiebreaks)."""
    from kafka_etl_automation_spark.operators import dedup, text

    stem = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{stem} tail{i % 3} x") for i in range(9)]
    rows += [(100 + i, f"different background content number {i} y") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def res(d):
        return sorted((r.id_a, r.id_b, round(r.jaccard, 12)) for r in d.collect())

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.2)
    packed = dedup.minhash_lsh_pairs(df, verify="grouped", **kw)
    assert "SortAggregate" not in plan(packed)
    assert "partial_min_by" in plan(packed)  # map-side combine is real
    r_packed = res(packed)
    assert r_packed == res(dedup.minhash_lsh_pairs(df, verify="pairs", **kw))
    assert len(r_packed) > 0

    # bipartite block-split contract (both the attested-binary and
    # unattested >=2-label plans)
    bkw = dict(
        kw, bands=32, bipartite=text.hash_split("text", 50), content_keyed=True
    )
    bp = dedup.minhash_lsh_pairs(df, verify="grouped", **bkw)
    assert "SortAggregate" not in plan(bp)
    assert res(bp) == res(dedup.minhash_lsh_pairs(df, verify="pairs", **bkw))
    ba = dedup.minhash_lsh_pairs(df, verify="grouped", max_labels=2, **bkw)
    assert "SortAggregate" not in plan(ba)
    assert res(ba) == res(bp)

    # 257 bands overflow the packed band field (bits 55..62): the struct
    # fallback, on the label-free and the unattested cross-label plans
    wide = dict(kw, num_hashes=257, bands=257)
    fb = dedup.minhash_lsh_pairs(df, verify="grouped", **wide)
    assert "SortAggregate" in plan(fb)
    r_fb = res(fb)
    assert r_fb == res(dedup.minhash_lsh_pairs(df, verify="pairs", **wide))
    assert len(r_fb) > 0
    bwide = dict(bkw, num_hashes=257, bands=257)
    bfb = dedup.minhash_lsh_pairs(df, verify="grouped", **bwide)
    assert "SortAggregate" in plan(bfb)
    assert res(bfb) == res(dedup.minhash_lsh_pairs(df, verify="pairs", **bwide))


def test_flood_escalation_policy():
    """VERDICT r11 #5: the grouped verify flood policy is decided at PLAN
    time from the cap audit's kept emission count — abort on a single-disk
    local box under the immutable-after-start lz4 codec NAMING the exact
    knobs, auto-raise the (runtime-settable) shuffle partitions otherwise,
    and never touch sub-flood plans (gate/bench volumes sit orders of
    magnitude below the ceiling)."""
    from kafka_etl_automation_spark.operators import dedup

    flood = dedup._FLOOD_NARROW_ROWS
    # sub-flood: untouched regardless of env
    assert dedup._flood_escalation(flood, "local[32]", "lz4", 32) is None
    assert dedup._flood_escalation(10_000, "local[32]", "lz4", 32) is None
    # flood + local + lz4: abort naming the knobs
    kind, msg = dedup._flood_escalation(2 * flood, "local[32]", "lz4", 32)
    assert kind == "abort"
    assert "SPARK_GRAFT_IO_CODEC=zstd" in msg and "max_bucket" in msg
    # flood + local + zstd: partition escalation, sized to the volume
    kind, n = dedup._flood_escalation(2 * flood, "local[32]", "zstd", 32)
    assert kind == "raise_partitions"
    assert n == (2 * flood) // dedup._FLOOD_ROWS_PER_PARTITION
    # flood on a CLUSTER master: never abort (multi-disk), just escalate
    kind, n = dedup._flood_escalation(2 * flood, "spark://host:7077", "lz4", 32)
    assert kind == "raise_partitions" and n > 32
    # partitions already sized: nothing to do
    assert dedup._flood_escalation(2 * flood, "local[32]", "zstd", 4096) is None


def test_scale_partition_floor(spark, monkeypatch):
    """r12: the scale-adaptive shuffle floor — partitions derive from
    the source scan size (~2 MiB/partition, anchored to r11's measured
    512p @ 1.2 GB 2700x working point), never lower, and stay a no-op at
    gate/bench SFs so boarded plans and walls are untouched."""
    from kafka_etl_automation_spark import runtime
    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import dedup

    # pure sizing rule: under the floor -> None; above -> bytes/2MiB; capped
    assert dedup._partition_floor(4 * 2**20, 32) is None
    assert dedup._partition_floor(1_200 * 2**20, 32) == 600
    assert dedup._partition_floor(1_200 * 2**20, 1024) is None  # never lower
    assert (
        dedup._partition_floor(10**13, 32) == dedup._SCALE_PARTITION_CAP
    )

    docs = load_tables(spark, SF_SMALL, names=("documents",))["documents"]
    # the floor is session-sticky by design, so an earlier test may have
    # left the conf raised — pin a known starting point and restore after
    restore = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        # gate-SF corpus sits far below the floor: conf untouched
        assert dedup.scale_partition_floor(docs) is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"

        # an octave-sized corpus (simulated via the stat seam) raises it
        import os as _os

        real_getsize = _os.path.getsize
        monkeypatch.setattr(
            dedup.os.path, "getsize", lambda p: real_getsize(p) + 2 * 2**30
        )
        floor = dedup.scale_partition_floor(docs)
        assert floor is not None and floor > 4
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(floor)
        # second call: already at the floor -> no further raise
        assert dedup.scale_partition_floor(docs) is None

        # regression (r12): frames with NO stat-able file source must
        # no-op — Catalyst's fallback sizeInBytes is Long.MaxValue for
        # RDD-backed plans and a child-product for joins, and trusting it
        # once leaked a sticky 2048-partition conf that broke the
        # streaming interval-join tests (2048-task state-store stages
        # overflow spark.driver.maxResultSize; streaming has no AQE).
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        local = spark.createDataFrame([("a", 1)], ["text", "doc_id"])
        assert dedup.scale_partition_floor(local) is None
        rdd_backed = spark.createDataFrame(
            spark.sparkContext.parallelize([("a", 1)]), ["text", "doc_id"]
        )
        assert dedup.scale_partition_floor(rdd_backed) is None
        joined = local.join(local.select("doc_id"), "doc_id")
        assert dedup.scale_partition_floor(joined) is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", restore)
        # drop the first-raise snapshot this test's synthetic raise left,
        # so a later streaming test's restore doesn't rewind to "4"
        runtime._SNAPSHOTS.pop(spark.sparkContext.applicationId, None)


def test_streaming_restores_pre_floor_partitions(spark, tmp_path, monkeypatch):
    """VERDICT r12 #4 / ADVICE r12 medium: a streaming query started AFTER
    a batch pipeline raised the scale-adaptive shuffle floor must see the
    pre-pipeline partition setting — streaming gets no AQE coalescing, and
    an inherited 2048-partition conf turns every state-store stage into
    2048 tasks (the r12 maxResultSize incident). The lifecycle stream
    builders pin their own scoped value; run_file_ingest (the remaining
    unpinned entry) restores the first-raise snapshot before starting."""
    from kafka_etl_automation_spark import runtime
    from kafka_etl_automation_spark.operators import dedup
    from kafka_etl_automation_spark.streaming import ingest

    restore = spark.conf.get("spark.sql.shuffle.partitions")
    app = spark.sparkContext.applicationId
    runtime._SNAPSHOTS.pop(app, None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        # simulate a floored batch pipeline: a real file-backed frame plus
        # the stat seam the floor test uses, so the raise takes the exact
        # production path (snapshot + conf set)
        docs = spark.range(10).selectExpr("id AS doc_id", "'x y z' AS text")
        src_dir = str(tmp_path / "floor_src")
        docs.write.parquet(src_dir)
        file_backed = spark.read.parquet(src_dir)
        import os as _os

        real_getsize = _os.path.getsize
        monkeypatch.setattr(
            dedup.os.path, "getsize", lambda p: real_getsize(p) + 2 * 2**30
        )
        assert dedup.scale_partition_floor(file_backed) is not None
        monkeypatch.setattr(dedup.os.path, "getsize", real_getsize)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 7

        events = spark.range(4).selectExpr("id AS event_id", "id AS v")
        stream_src = str(tmp_path / "stream_src")
        events.coalesce(1).write.parquet(stream_src)
        ingest.run_file_ingest(
            spark,
            source_dir=stream_src,
            schema=events.schema,
            bronze_base=str(tmp_path / "bronze"),
            audit_path=str(tmp_path / "audit"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            topic="t",
            run_id=1,
            max_files_per_trigger=1,
        )
        # the stream started (and the session continues) at the
        # pre-pipeline setting, not the floored one
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        # idempotent: nothing recorded anymore
        assert dedup.restore_shuffle_partitions(spark) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", restore)
        runtime._SNAPSHOTS.pop(app, None)


def test_ngram_overlap_bloom_generic_id_type(spark):
    """ADVICE r09: the bloom variant's pandas-UDF schemas derived their id
    field from a hardcoded long — a string doc_id failed at runtime with an
    opaque Arrow cast error despite the generic id_col signature. Pin that
    string ids now work and match the exact twin (which was always
    generic)."""
    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import curation

    docs = (
        load_tables(spark, SF_SMALL, names=("documents",))["documents"]
        .select(F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text")
    )
    exact = {
        (r.eval_doc_id, r.n_grams, r.n_overlap)
        for r in curation.ngram_overlap_decontamination(docs).collect()
    }
    bloom = {
        (r.eval_doc_id, r.n_grams, r.n_overlap)
        for r in curation.ngram_overlap_decontamination_bloom(
            docs, fpp=1e-6, expected_grams=200_000, segments=4
        ).collect()
    }
    assert bloom == exact and len(exact) > 0
    assert all(isinstance(k[0], str) for k in bloom)


def test_spill_level_probe(spark):
    """VERDICT r10 #5: corpus caches switch to DISK_ONLY once cached bytes
    crowd the storage pool (the 2700x corpus-signature cache OOM'd a 32g
    local driver at MEMORY_AND_DISK). The threshold function is pure; the
    integration path (getRDDStorageInfo + maxMemory) must also resolve on
    a live session so the guard isn't silently dead."""
    from pyspark import StorageLevel

    from kafka_etl_automation_spark import runtime

    gib = 2**30
    assert runtime._spill_level(0, 32 * gib) == StorageLevel.MEMORY_AND_DISK
    assert runtime._spill_level(9 * gib, 32 * gib) == StorageLevel.MEMORY_AND_DISK
    assert runtime._spill_level(11 * gib, 32 * gib) == StorageLevel.DISK_ONLY
    # live telemetry path: a small frame stays MEMORY_AND_DISK and the
    # JVM storage APIs the probe uses are reachable
    sc = spark.sparkContext
    assert int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory()) > 0
    df = runtime.persist("corpus", spark.range(10).toDF("id"), eager=True)
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert any(c is df for c in runtime._POOLS["corpus"])
    # release via the pool, NOT a bare unpersist (ADVICE r11: out-of-band
    # unpersist left the dead frame in the pool, shrinking the effective
    # cap for later tests in the same session)
    assert runtime.release("corpus") >= 1
    assert all(c is not df for c in runtime._POOLS["corpus"])


def test_grouped_bucket_blocks_are_sorted(spark):
    """Regression pin for the 2700x order-divergence bug: collect_list's
    element order over a shuffle is nondeterministic across
    (re-)executions, and once-per-pair grouped verification evaluates the
    bucket aggregation twice (index capture at enumeration, index
    resolution on the verify join's bucket side) — every bucket block
    array MUST therefore be array_sort'ed (unique leading id => both
    evaluations bit-identical). Caught live at the 2700x octave: unsorted
    da/db let element_at dereference the wrong doc's signature set
    (440,089 vs 431,985 contaminated evals)."""
    from kafka_etl_automation_spark.operators import dedup, text

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "a b c d e h")],
        "doc_id long, text string",
    )
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.2)

    def agg_plan(d):
        return d._jdf.queryExecution().analyzed().toString()

    # label-free contract: the single ds block
    p = agg_plan(dedup.minhash_lsh_pairs(df, verify="grouped", **kw))
    assert p.count("array_sort(collect_list") >= 1
    # cross-label contract: BOTH blocks (da and db) sorted
    bp = agg_plan(
        dedup.minhash_lsh_pairs(
            df,
            verify="grouped",
            bipartite=text.hash_split("text", 50),
            content_keyed=True,
            **kw,
        )
    )
    assert bp.count("array_sort(collect_list") >= 2
