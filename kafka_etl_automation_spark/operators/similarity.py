"""Similarity search over embedding columns (array<float>).

Two paths:
- cosine_topk:      brute-force exact top-k. The query set is broadcast, so
                    the big side streams once with no shuffle; cost is
                    O(N x |Q| x dim) FLOPs JVM-side. Exact baseline.
- lsh_cosine_topk:  random-hyperplane LSH bucketing, then exact rerank
                    inside buckets. The 100 TB path: candidate generation is
                    a keyed join instead of a full cross product. Signatures
                    are computed in a vectorized Arrow batch (mapInPandas) —
                    the sanctioned slow path, ~100x faster than row-at-a-time.

Dot products fold left-to-right (F.aggregate), so scores are deterministic
for a fixed element order — required for differential testing and stable
top-k membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.functions import scalar
from kafka_etl_automation_spark.operators import partitioning


def _dot(a, b, dim: int | None = None):
    """Left-fold dot product: sum_i a[i]*b[i] accumulated in index order.

    With ``dim`` known the fold is UNROLLED into a chain of element_at
    multiply-adds — the exact same IEEE operations in the exact same
    order as the F.aggregate fold (bit-identical results, oracle hashes
    unchanged), but plain codegen expressions instead of a lambda HOF:
    higher-order functions are CodegenFallback and evaluate interpreted
    per element, which the round-5 scale-proof measured at ~50x the cost
    on the embedding-family plans (IVF assignment = N x n_cells folds).
    Out-of-range element_at yields NULL, matching zip_with's null-pad.
    Without ``dim`` (unknown-width arrays) the HOF fold remains.

    Round-5 A/B on the 30x corpus: unrolling beat the HOF fold ~2.7x on
    assignment-shaped plans (52s -> 19s) but both lose badly to compiled
    code — the 64-term chain generates a method past the JIT's
    huge-method limit and runs in the bytecode interpreter, so the
    corpus-wide assignment paths moved to the Arrow-vectorized left-fold
    in ``_nearest_cells`` (bit-identical, numpy C speed). ``dim`` unroll
    remains the right tool for ONE chain evaluated once per row (norm
    hoists, modest rerank volumes); the HOF fold remains for
    small-candidate shapes where plan compile cost dominates
    (cosine_topk rerank A/B'd 2x faster with the fold).
    """
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + (
                F.element_at(a, i).cast("double")
                * F.element_at(b, i).cast("double")
            )
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a, dim: int | None = None):
    """sqrt of the left-fold sum of squares; see ``_dot`` for why the
    known-``dim`` form unrolls instead of using an interpreted HOF."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            x = F.element_at(a, i).cast("double")
            acc = acc + x * x
        return F.sqrt(acc)
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, neighbor_id, cosine, rank)``: each query's ``k`` best
    rows of ``scored`` by rounded cosine, ties to the lowest neighbor id —
    a unique order, so membership and rank are reproducible across
    engines and partitionings."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    `queries` must have (query_id_col, vec_col). The query side is
    broadcast; ranking uses a per-query window with id tiebreak. Scores are
    rounded to 6 dp AFTER ranking-relevant comparison (rank on rounded score
    + id) so results are reproducible across engines.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    scored = (
        partitioning.fan_out(embeddings)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
        .join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("vec"), F.col("q_vec"), dim)
                / (_norm(F.col("vec"), dim) * _norm(F.col("q_vec"), dim)),
                6,
            ),
        )
    )
    return _top_k(scored, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    cosine >= threshold — the semantic-dedup primitive for training data.

    Exact all-pairs via a self-join on a < b: O(N^2) dot products, the
    small-corpus baseline and the verifier for the LSH-bucketed variant
    (``lsh_embedding_near_dup_pairs``), exactly as ngram_jaccard_pairs is
    the verifier for minhash_lsh_pairs. Do not run this shape at 100 TB.
    """
    # fan-out rebalance the probe side: a small single-file scan would
    # otherwise run the O(N^2) dot products on one task
    a = partitioning.fan_out(embeddings).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("va"), F.col("vb"), dim)
                / (_norm(F.col("va"), dim) * _norm(F.col("vb"), dim)),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1000,
) -> DataFrame:
    """The 100 TB path for semantic dedup: hyperplane-LSH bucket the
    vectors, generate candidate pairs only inside buckets (keyed join, no
    cross product), then exact-cosine verify. High-cosine pairs land in the
    same bucket with probability (1 - theta/pi)^planes, so precision is
    exact and recall is the tunable part (more tables / fewer planes).

    Skew guard (audit note, VERDICT r02 #4): buckets larger than
    ``max_bucket`` are dropped before pair generation, mirroring
    ``dedup.minhash_lsh_pairs`` — one degenerate bucket (zero vectors, a
    repeated template embedding) would otherwise go quadratic at scale.
    The candidate count is thus bounded by N/max_bucket * max_bucket^2.

    Verification is one numpy GEMM per bucket group (applyInPandas): the
    round-5 scale-proof caught the previous shape — bucket self-join +
    per-pair ``F.aggregate`` cosine — going 100x super-linear on a 30x
    corpus (222 s: ~7M candidate pairs x dim interpreted, non-codegen
    element ops). A bucket group is <= max_bucket rows, so the in-group
    pairwise cosine is a <= max_bucket^2 BLAS matmul (~8 MB fp64 at the
    default cap); the count-window sizing pass already hash-partitions by
    bucket, so applyInPandas reuses that exchange instead of adding one.
    Scores are computed in float64 exactly like the exact verifier's
    column expression and rounded to 6 dp, keeping the precision
    invariant (every emitted pair matches ``embedding_near_dup_pairs``).
    """
    import numpy as np
    import pandas as pd

    sig = hyperplane_signatures(
        embeddings, num_planes, dim, seed, id_col, vec_col
    )
    wb = Window.partitionBy("bucket")
    base = (
        embeddings.select(id_col, vec_col)
        .join(sig, id_col)
        .withColumn("bsz", F.count(F.lit(1)).over(wb))
        .filter((F.col("bsz") <= max_bucket) & (F.col("bsz") >= 2))
        .select(id_col, vec_col, "bucket")
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)  # ids unique -> deterministic pair order
        ids = ids[order]
        mat = np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = np.nan  # zero vectors: NaN cosine, filtered
        cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = cos[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine": cos[ia[keep], ib[keep]],
            }
        )

    # one bucket per vector -> pairs unique across groups
    return base.groupBy("bucket").applyInPandas(
        verify, "id_a long, id_b long, cosine double"
    )


def _nearest_cells(
    df: DataFrame, cent: DataFrame, id_col: str, vec_col: str, n: int
) -> DataFrame:
    """``(id_col, vec_col, scores, cell)``: each vector of ``df`` with one
    of its ``n`` nearest cells of ``cent`` ``(cell, centroid)`` by round-6
    cosine, ties to the lowest cell. For ``n == 1`` it is a narrow map of
    ``df``: one row per vector, no aggregation and no join back to the
    vectors; for ``n > 1``, ``min(n, cells)`` rows per vector.

    The scoring runs as an Arrow-vectorized numpy left-fold. The in-engine
    alternative (unrolled element_at chains over the x n_cells broadcast
    join) generates a single method past the JVM JIT's huge-method limit,
    so it executes in the bytecode interpreter — the round-5 scale-proof
    measured the 960k-pair projection at 12s. Here the fold runs as
    ``acc += M[:, i] * C[:, i]`` — vectorized over rows and cells, looped
    over index — so every score sees the exact IEEE op sequence of the
    oracle's unrolled SQL fold (acc from 0.0, index order,
    widen-then-multiply, norms multiplied before the one divide):
    bit-identical values at numpy C speed. A vector or centroid with a
    zero norm scores nothing (the engine's divide-by-zero gave NULL, and a
    numpy NaN would outrank every double), so such a vector drops out and
    such a centroid is never chosen. Each remaining vector is emitted with
    ``scores``, its raw cosines against the remaining centroids in
    ascending cell order (once per probe slot when ``n > 1``).

    Rounding (HALF_UP) and the ranking stay in-engine, so engine semantics
    are never re-implemented in Python, as unrolled ``round`` terms and no
    higher-order function: ``array_position(r, array_max(r))`` is the
    first (lowest-cell) maximum; for ``n > 1`` a descending
    ``sort_array`` of ``(round, -position)`` structs gives each probe slot
    its cell, with no Generate for a broadcast to sit over.

    The centroids (n_cells x dim doubles) transit the driver — the same
    contract as Spark MLlib's KMeans, which collects centers every
    iteration; data rows never leave the executors."""
    import numpy as np
    import pandas as pd

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = (
        f"{id_col} {types[id_col]}, {vec_col} {types[vec_col]}, "
        "scores array<double>"
    )
    rows = sorted(cent.collect(), key=lambda r: r[0])
    # `or`: an empty centroid frame still gives a 2-D (0, 0) matrix
    c_mat = np.array([list(r[1]) for r in rows] or np.zeros((0, 0)), dtype=np.float64)
    dim = c_mat.shape[1]
    c_norm = np.zeros(len(rows))
    for i in range(dim):  # left-fold of squares, same order as _norm
        c_norm = c_norm + c_mat[:, i] * c_mat[:, i]
    live = np.flatnonzero(c_norm != 0.0)
    if len(live) == 0:  # no centroid (empty corpus) or only zero-norm ones
        return df.sparkSession.createDataFrame([], cols + ", cell bigint")
    cells = [int(rows[j][0]) for j in live]
    c_mat, c_norm = c_mat[live], np.sqrt(c_norm[live])
    reps = max(min(n, len(cells)), 0)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            v_norm = np.zeros(len(m))
            for i in range(dim):
                v_norm = v_norm + m[:, i] * m[:, i]
            v_norm = np.sqrt(v_norm)
            keep = np.flatnonzero(v_norm != 0.0)
            m, v_norm = m[keep], v_norm[keep]
            acc = np.zeros((len(m), len(cells)))
            for i in range(dim):
                acc = acc + m[:, i : i + 1] * c_mat[:, i]
            sims = acc / (v_norm[:, None] * c_norm)
            out = pdf.iloc[np.repeat(keep, reps)].reset_index(drop=True)
            # object dtype: pandas would unpack one-element score rows
            out["scores"] = pd.Series(
                list(np.repeat(sims, reps, axis=0)), dtype=object
            )
            out["_slot"] = np.tile(np.arange(1, reps + 1, dtype=np.int32), len(keep))
            yield out

    r = [F.round(F.col("scores")[j], 6) for j in range(len(cells))]
    if n == 1:
        ranked = F.array(*r)
        pos = F.array_position("_r", F.array_max("_r")).cast("int")
    else:
        ranked = F.sort_array(
            F.array(
                *[F.struct(x.alias("s"), F.lit(-j).alias("p")) for j, x in enumerate(r, 1)]
            ),
            asc=False,
        )
        pos = -F.element_at("_r", F.col("_slot"))["p"]
    cell_ids = F.array(*[F.lit(c).cast("bigint") for c in cells])
    return (
        df.select(id_col, vec_col)
        .mapInPandas(score, cols + ", _slot int")
        .withColumn("_r", ranked)
        .select(
            id_col, vec_col, "scores", F.element_at(cell_ids, pos).alias("cell")
        )
    )


def _lloyd_step(v: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd iteration over ``v`` ``(vid, e)``: nearest-cell
    assignment (:func:`_nearest_cells`, a narrow map: no shuffle, no join)
    then element-wise mean through exact DECIMAL sums — the deterministic
    building block shared by ``kmeans_centroids`` and
    ``kmeans_convergence``. ``cent`` is executed (n_cells rows) to seed the
    assignment; the fold reads the vector width from the centroids."""
    return (
        _nearest_cells(v, cent, "vid", "e", 1)
        .select("cell", F.posexplode("e").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(
            F.round(
                # exact_sum_scale10 == the plain decimal sum VALUE (oracle
                # unchanged) with compact buffers — the plain sum's
                # precision-40 buffer boxes a BigDecimal per exploded row
                scalar.exact_sum_scale10(
                    F.col("val").cast("decimal(30,10)")
                ).cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("cv")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("ce")
        )
    )


def _lloyd_inputs(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str, train_mod: int
) -> tuple[DataFrame, DataFrame]:
    """``(v, cent)`` for the Lloyd loop: the training vectors ``(vid, e)``
    and the seed centroids ``(cell, ce)``, the first ``n_cells`` vectors by
    id. The assignment multiplies CPU x n_cells per row and a small
    parquet corpus scans narrow (round-5 scale-proof: 60k vectors = 4
    tasks), so the vectors fan out to core count first (a guarded
    pass-through on wide scans). The seed comes from the FULL set —
    sampling must not shrink the seed block — and ``train_mod > 1`` trains
    on the ``vid % train_mod == 0`` subset."""
    full = partitioning.fan_out(embeddings).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("e")
    )
    cent = full.filter(F.col("vid") < n_cells).select(
        F.col("vid").alias("cell"), F.col("e").alias("ce")
    )
    v = full.filter(F.col("vid") % train_mod == 0) if train_mod > 1 else full
    return v, cent


def kmeans_convergence(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int = 1,
) -> DataFrame:
    """Per-iteration Lloyd convergence metrics: one row per iteration with
    the max and mean Euclidean centroid shift — the observable that tells a
    caller whether ``iters`` was enough (shift ~0 => converged; a large
    final shift => raise ``iters``).

    Everything stays in-engine: each iteration's centroid frame is n_cells
    rows (persisted, so the metric union replays no Lloyd lineage), the
    shift is a zip_with/aggregate over centroid pairs, and the returned
    frame is ``iters`` rows — no data row ever reaches the driver. At
    100 TB the marginal cost over plain training is one n_cells-row join
    per iteration: free. The centroid frames go to the runtime's corpus
    pool; with more ``iters`` than its cap the earliest are evicted and
    recomputed when the metric union runs."""
    from functools import reduce

    v, cent = _lloyd_inputs(embeddings, n_cells, id_col, vec_col, train_mod)
    sq_diff = F.zip_with("prev", "cur", lambda a, b: (a - b) * (a - b))
    # per-cell shift is rounded to 8 dp BEFORE aggregating: max commutes
    # with the monotone round, and the mean goes through an exact decimal
    # sum of the rounded values — both metrics are then order-independent
    # and engine-reproducible, which is what lets ext_kmeans_convergence
    # carry a full hash-matched oracle instead of a rows-only check
    shift = F.round(
        F.sqrt(F.aggregate(sq_diff, F.lit(0.0), lambda acc, x: acc + x)), 8
    )
    metrics = []
    for i in range(1, iters + 1):
        new = runtime.persist("corpus", _lloyd_step(v, cent))
        pair = (
            cent.select("cell", F.col("ce").alias("prev"))
            .join(new.select("cell", F.col("ce").alias("cur")), "cell")
            .select(shift.alias("shift"))
        )
        metrics.append(
            pair.agg(
                F.max("shift").alias("max_shift"),
                F.round(
                    F.sum(F.col("shift").cast("decimal(18,8)")).cast("double")
                    / F.count(F.lit(1)),
                    8,
                ).alias("mean_shift"),
            ).select(F.lit(i).alias("iteration"), "max_shift", "mean_shift")
        )
        cent = new
    return reduce(DataFrame.unionByName, metrics)


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int = 1,
) -> DataFrame:
    """Deterministic distributed Lloyd iterations -> (cell, cvec) centroids.

    Textbook distributed k-means. Centroid MODEL STATE (n_cells x dim
    doubles) transits the driver between iterations — the same contract as
    Spark MLlib's KMeans, which collects cluster centers every iteration;
    data rows never leave the executors:
      init    = first ``n_cells`` vectors by id (seeded, reproducible);
      assign  = nearest cell per vector (_nearest_cells: Arrow-vectorized
                left-fold scoring, bit-identical to the oracle's unrolled
                fold; round-6 cosine argmax with cell-id tiebreak
                in-engine);
      update  = element-wise mean via exact DECIMAL sums (order-independent
                across partitionings/engines), rounded to 8 dp.
    Every step is engine-reproducible, so an unrolled SQL oracle hashes
    identically — the determinism rules from plans/registry.py applied to an
    iterative algorithm. A cell that loses all members is dropped (both
    engines agree); callers get <= n_cells centroids.

    ``train_mod`` is the 100 TB training-cost knob: Lloyd iterations run on
    the deterministic 1/train_mod subset (``id % train_mod == 0``) — how
    production IVF trains (centroids from a sample, assignment over
    everything). Default 1 trains on all vectors (exact oracle parity);
    the training cost scales 1/train_mod while index quality degrades only
    with sample representativeness, not corpus size. See PLANS.md
    (IVF cost anatomy) for measured numbers.

    Scale: per iteration one narrow assignment map over the (sampled)
    vectors plus one (cell, pos)-keyed aggregation of n_cells*dim rows —
    no shuffle of the vectors themselves beyond the partial-agg combine.
    """
    v, cent = _lloyd_inputs(embeddings, n_cells, id_col, vec_col, train_mod)
    for _ in range(iters):
        cent = _lloyd_step(v, cent)
    # n_cells rows; persisted because callers (ivf_topk) reference the
    # centroid frame from two plan branches (vector + query assignment) —
    # without this the whole Lloyd lineage executes twice
    return runtime.persist("corpus", cent.select("cell", F.col("ce").alias("cvec")))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition vectors into inverted-file
    cells around centroid vectors, search only the query's ``n_probe``
    nearest cells.

    ``centroids`` is a (cell, cvec) frame — pass ``kmeans_centroids(...)``
    for real cluster centers (the credible-recall path); when omitted,
    centroids default to the first ``n_cells`` vectors by id (the trivial
    deterministic seeding — same plan shape either way). Scale: each vector
    is scored against the collected centroids once and carries its cell
    out of that narrow map (:func:`_nearest_cells`), then the search join
    is keyed on cell id — never a full cross product; recall < 1 by
    construction (probe more cells to raise it)."""
    if centroids is None:
        centroids = embeddings.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec")
        )
    centroids = centroids.select("cell", "cvec")

    # every vector scores against n_cells centroids — fan a narrow scan out
    # to core count first (guarded, pass-through when wide); each vector
    # lives in exactly its nearest cell
    base = _nearest_cells(
        partitioning.fan_out(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
            )
        ),
        centroids,
        "neighbor_id",
        "vec",
        1,
    ).select("neighbor_id", "vec", "cell", _norm(F.col("vec"), dim).alias("_vn"))
    q = _nearest_cells(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        centroids,
        "query_id",
        "q_vec",
        n_probe,
    ).select("query_id", "q_vec", "cell", _norm(F.col("q_vec"), dim).alias("_qn"))
    scored = (
        base.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("vec"), F.col("q_vec"), dim)
                / (F.col("_vn") * F.col("_qn")),
                6,
            ),
        )
    )
    return _top_k(scored, k)


def hyperplane_signatures(
    embeddings: DataFrame,
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign-bit signature packed
    into an int). Vectorized numpy matmul over Arrow batches — one pass, no
    shuffle; planes are derived from the seed on each executor (no broadcast
    of Python state needed)."""
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} long, bucket long"

    def signer(batches):
        planes = np.random.RandomState(seed).standard_normal((dim, num_planes))
        weights = 1 << np.arange(num_planes, dtype=np.int64)
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].to_numpy())  # (batch, dim) float32
            bits = (mat.astype(np.float64) @ planes) > 0
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "bucket": bits @ weights}
            )

    return (
        partitioning.fan_out(embeddings)
        .select(id_col, vec_col)
        .mapInPandas(signer, out_schema)
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe_bits: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: bucket by hyperplane signature, exact rerank
    within the query's bucket(s). Join is keyed on bucket, so the big side
    never cross-joins.

    Recall < 1 by construction with a single probe; ``multiprobe_bits=t``
    additionally probes every bucket whose signature lies within Hamming
    distance <= t of the query's (the classic multi-probe LSH recall
    lever: a near neighbor most likely lands in a bucket that flips a few
    marginal planes). Cost: the QUERY side fans out x sum_{i<=t}
    C(num_planes, i) — e.g. 13 probes at (12 planes, t=1), 79 at t=2 —
    while the corpus side is untouched: candidate volume grows with probe
    count but corpus scan/signature cost is unchanged, the right knob at
    100 TB where the corpus side dominates. The probe masks are distinct
    constants folded into one query-side explode, and each corpus vector
    lives in exactly one bucket, so no candidate dedup is needed."""
    if not 0 <= multiprobe_bits <= num_planes:
        raise ValueError(
            f"multiprobe_bits must lie in [0, num_planes={num_planes}], "
            f"got {multiprobe_bits}"
        )
    sig = hyperplane_signatures(embeddings, num_planes, dim, seed, id_col, vec_col)
    base = embeddings.join(sig, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        "bucket",
    )
    qsig = hyperplane_signatures(
        queries.withColumnRenamed(query_id_col, id_col), num_planes, dim, seed, id_col, vec_col
    )
    q = (
        queries.withColumnRenamed(query_id_col, id_col)
        .join(qsig, id_col)
        .select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket"
        )
    )
    if multiprobe_bits > 0:
        from itertools import combinations

        masks = [
            sum(1 << p for p in combo)
            for t in range(1, multiprobe_bits + 1)
            for combo in combinations(range(num_planes), t)
        ]
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks],
        )
        q = q.select(
            "query_id", "q_vec", F.explode(probes).alias("bucket")
        )
    scored = (
        base.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            # HOF fold, not the unrolled form: candidate volume here is
            # small (bucket-matched pairs) and the unrolled 385-node tree
            # measured ~2x slower on this shape (round-5 A/B) — see _dot
            F.round(
                _dot(F.col("vec"), F.col("q_vec"))
                / (_norm(F.col("vec")) * _norm(F.col("q_vec"))),
                6,
            ),
        )
    )
    return _top_k(scored, k)
