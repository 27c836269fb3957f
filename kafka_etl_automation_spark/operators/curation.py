"""End-to-end corpus curation: the composed training-data pipeline.

The individual operators (quality scoring, language ID, exact dedup,
content-hash splitting — operators.text / operators.dedup) are each
registered and oracle-checked on their own; this module composes them the
way a real pretraining-data pipeline runs them, as ONE logical plan:

    score (pure projections)  ->  filter (quality / lang / token bounds)
      ->  exact dedup, keep canonical (one fingerprint-keyed shuffle)
      ->  deterministic content-hash train/eval split

Scale properties (the reason this is a single plan, not four jobs):
- every score is a Catalyst projection computed in the SAME scan pass —
  the corpus is read once;
- the raw text column dies at the scan: only (id, scores, fingerprint,
  split) survive into the shuffle, so the one exchange moves ~50 bytes a
  row regardless of document size;
- dedup uses min_by over a struct (partial-aggregable, map-side combine)
  rather than a ranking window — no sort, no second pass;
- the filters run BEFORE the shuffle, so rejected documents never leave
  their input partition (predicate pushdown for free via Catalyst).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.operators import components, partitioning, text
from kafka_etl_automation_spark.operators.dedup import normalized_text

_LOG = logging.getLogger(__name__)


def score_and_filter(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.4,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 12,
    max_tokens: int = 100_000,
    train_pct: int = 90,
) -> DataFrame:
    """The scan-side half of :func:`curate`: score + filter as pure
    projections over the documents scan — no shuffle at any scale. Exposed
    as its own seam so a stage's cost can be timed on exactly the plan
    ``curate`` runs, not a reconstruction of it.

    Fanned out to core count before scoring: stage attribution (round 5)
    put 99.5% of the pipeline's cost in these projections, and a small
    single-file corpus scans as ~4 tasks; the rebalance is guarded
    pass-through on any already-wide scan."""
    toks = F.split(normalized_text(text_col), " ")
    scored = partitioning.fan_out(documents).select(
        F.col(id_col).alias("doc_id"),
        text.lang_id(text_col).alias("lang"),
        text.token_count(text_col).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("unique_ratio"),
        text.stopword_ratio(text_col).alias("stopword_ratio"),
        F.md5(normalized_text(text_col)).alias("fingerprint"),
        text.hash_split(text_col, train_pct).alias("split"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        "fingerprint",
        "split",
        F.round(
            F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
            + F.col("unique_ratio") * 0.3
            + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3,
            6,
        ).alias("quality"),
    )
    # Filter-placement fence: the predicate is wrapped in a single WHEN
    # guarded by spark_partition_id() (nondeterministic, always true), so
    # the optimizer can neither split the conjunction nor push any part of
    # it below the fan-out exchange. Without the fence PushDownPredicates
    # substitutes the full scoring tree into a Filter UNDER the repartition
    # (round-5 plan read): every score evaluated twice, the first time at
    # the narrow scan's parallelism — 37s vs ~4s at the 30x scale-proof
    # SF. Pushdown has no upside here: a predicate over computed text
    # scores can never prune parquet I/O.
    keep = (
        (F.col("quality") >= min_quality)
        & F.col("lang").isin(*langs)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    return scored.filter(
        F.when(F.spark_partition_id() >= 0, keep).otherwise(F.lit(False))
    )


def curate(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.4,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 12,
    max_tokens: int = 100_000,
    train_pct: int = 90,
) -> DataFrame:
    """Curated corpus manifest: (doc_id, lang, n_tokens, quality, split),
    one row per surviving canonical document."""
    kept = score_and_filter(
        documents,
        text_col=text_col,
        id_col=id_col,
        min_quality=min_quality,
        langs=langs,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        train_pct=train_pct,
    )
    return (
        kept.groupBy("fingerprint")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "n_tokens", "quality", "split"),
                F.col("doc_id"),
            ).alias("r")
        )
        .select("r.doc_id", "r.lang", "r.n_tokens", "r.quality", "r.split")
    )


def content_bucket(col, modulus: int = 100):
    """Deterministic content-keyed bucket in [0, modulus): md5 first 8 hex
    chars mod N — same formula as text.hash_split, portable to any engine."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % modulus


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its content
    bucket falls below the stratum's percentage — the corpus-mixing
    primitive (downsample boilerplate languages, keep all of rare ones).

    Content-keyed (not Bernoulli-random), so the sample is reproducible
    across runs/engines and stable under repartitioning — a re-crawled
    duplicate lands in the same decision. Pure projection + filter: no
    shuffle, fully pushdown-friendly at any scale."""
    bucket = content_bucket(key_col, 100)
    pct = F.lit(int(default_fraction * 100))
    for value, frac in sorted(fractions.items()):
        pct = F.when(F.col(strata_col) == value, F.lit(int(frac * 100))).otherwise(
            pct
        )
    return df.filter(bucket < pct)


def token_budget_select(
    scored: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy quality-ranked selection under a total token budget: take
    documents in (quality DESC, id ASC) order while the running token sum
    stays within ``budget`` — "the best B tokens" of a scored corpus.

    Scale design — NO global sort window (a single-partition window over
    the corpus is the classic scale-killer). Two passes instead:

    1. aggregate token sums per distinct quality value (keyed shuffle,
       map-side combine) -> tiny frame (one row per distinct score);
       a driver-free running sum over it (window over the SMALL frame)
       yields the quality CUTOFF: strata strictly above the cutoff fit
       entirely, the boundary stratum fits partially.
    2. whole strata above the cutoff pass through with a broadcast
       semi-filter; only the BOUNDARY stratum (one quality value) runs a
       window, partitioned on that single value's rows ordered by id —
       partition-local, bounded by the largest tie group, not the corpus.

    Exactly reproduces the naive global greedy (same order, same ties) —
    the oracle computes it with one SUM OVER window and hashes must match.
    """
    per_q = scored.groupBy(quality_col).agg(
        F.sum(token_col).cast("long").alias("q_tokens")
    )
    from pyspark.sql import Window

    wq = Window.orderBy(F.desc(quality_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # running sum over the per-quality frame: one row per DISTINCT score —
    # thousands of rows at most (scores are rounded to 6 dp), not corpus-
    # sized; safe in a single partition.
    ledger = per_q.withColumn("cum_tokens", F.sum("q_tokens").over(wq)).withColumn(
        "prev_cum", F.col("cum_tokens") - F.col("q_tokens")
    )
    full = ledger.filter(F.col("cum_tokens") <= budget).select(quality_col)
    boundary = ledger.filter(
        (F.col("cum_tokens") > budget) & (F.col("prev_cum") <= budget)
    ).select(quality_col, F.col("prev_cum"))

    taken_full = scored.join(F.broadcast(full), quality_col, "semi")
    wb = Window.partitionBy(quality_col).orderBy(F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    taken_boundary = (
        scored.join(F.broadcast(boundary), quality_col)
        .withColumn("in_cum", F.sum(token_col).over(wb) + F.col("prev_cum"))
        .filter(F.col("in_cum") <= budget)
        .drop("in_cum", "prev_cum")
    )
    return taken_full.unionByName(taken_boundary).select(
        id_col, token_col, quality_col
    )


def source_cap(
    scored: DataFrame,
    caps: dict[str, int],
    strata_col: str = "source",
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source quota capping: keep at most ``caps[source]`` documents of
    each capped source, best-quality first — the "don't let one crawl
    dominate the mix" curation primitive (CCNet/RefinedWeb cap boilerplate
    domains; sources absent from ``caps`` pass through untouched).

    Scale design — no global window: uncapped sources NEVER enter a sort
    (they pass through with a broadcast anti-join against the tiny capped-
    source list), and the ranking window runs only over capped sources'
    rows, partitioned per source. The sorted volume is bounded by
    sum(rows of capped sources), not the corpus. A single pathological
    source still sorts its own rows; if that source is itself petabyte-
    sized, pre-prune with a per-(source, quality-bucket) ledger first —
    same cutoff trick as token_budget_select.

    Deterministic: rank orders by (quality DESC, id ASC); ties broken by
    the unique id, so the kept set is unique and engine-portable.
    """
    from pyspark.sql import Window

    spark = scored.sparkSession
    capped = spark.createDataFrame(
        [(s, n) for s, n in sorted(caps.items())], f"{strata_col} string, cap int"
    )
    pass_through = scored.join(
        F.broadcast(capped.select(strata_col)), strata_col, "anti"
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    kept = (
        scored.join(F.broadcast(capped), strata_col)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("cap"))
        .drop("rn", "cap")
    )
    return pass_through.unionByName(kept.select(*pass_through.columns))


def cross_split_contamination(
    documents: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 90,
) -> DataFrame:
    """Decontamination report: eval documents sharing a near-duplicate
    relation with ANY train document. Exact duplicates can never cross the
    content-keyed split (identical text -> identical bucket), so the real
    leak channel is NEAR-duplicates — ``pairs`` is any (id_a, id_b) near-
    dup pair frame (exact n-gram Jaccard as verifier, minhash-LSH at
    scale). One keyed join of the pair list against the split projection;
    output one row per contaminated eval doc with its worst train match.
    (decontaminate_canonical_lsh does NOT route through here: its report
    aggregates at canonical-representative level before member fan-out;
    both share the aggregation, _worst_train_matches.)
    """
    splits = documents.select(
        F.col(id_col).alias("sid"),
        text.hash_split(text_col, train_pct).alias("split"),
    )
    # splits is one row per doc — corpus-sized; shuffle_hash forbids the
    # broadcast its collapsed size estimate would otherwise allow
    tagged = (
        pairs.join(
            splits.hint("shuffle_hash")
            .withColumnRenamed("sid", "id_a")
            .withColumnRenamed("split", "split_a"),
            "id_a",
        )
        .join(
            splits.hint("shuffle_hash")
            .withColumnRenamed("sid", "id_b")
            .withColumnRenamed("split", "split_b"),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return _worst_train_matches(tagged, F.col("split_a") == "eval", "eval_doc_id")


def _worst_train_matches(
    pairs: DataFrame, a_is_eval: Column, eval_col: str
) -> DataFrame:
    """The contamination report over cross-split ``(id_a, id_b, jaccard)``
    pairs, ``a_is_eval`` telling which side is the eval document: one row
    per eval id (named ``eval_col``) with its worst train match (highest
    jaccard, then lowest train id), max_jaccard and n_train_matches."""
    oriented = pairs.select(
        F.when(a_is_eval, F.col("id_a")).otherwise(F.col("id_b")).alias(eval_col),
        F.when(a_is_eval, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("train_doc_id"),
        F.col("jaccard"),
    )
    return oriented.groupBy(eval_col).agg(
        F.max_by("train_doc_id", F.struct("jaccard", -F.col("train_doc_id"))).alias(
            "worst_train_match"
        ),
        F.max("jaccard").alias("max_jaccard"),
        F.count(F.lit(1)).cast("long").alias("n_train_matches"),
    )


def decontaminate_canonical(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    train_pct: int = 90,
) -> DataFrame:
    """Decontaminate eval against the DEDUPLICATED train corpus — the
    contract a 100 TB pipeline actually ships, composed from the two
    operators it already runs: the train split collapses to its canonical
    keep-list (dedup.canonical_keep_list), then only the KEPT canonical
    documents are checked against eval. Output schema matches
    cross_split_contamination: one row per contaminated eval doc with its
    worst kept-train match, max_jaccard, and n_train_matches (now = the
    number of matched train CLUSTERS, since each cluster contributes
    exactly its canonical doc).

    Why this is the linear twin of the raw pair-report: the r07 octave
    ladder measured ext_decontamination_lsh super-linear (19.9s -> 128.4s
    for 100x -> 300x) because in-bucket cross-pair volume grows with
    train-dup-family size x eval-dup-family size. Deduping train FIRST
    removes the train-side family factor entirely — the kept corpus has
    one doc per near-dup cluster, so bucket occupancy (and with it the
    candidate join) stays flat as corpus multiplicity grows. A pipeline
    that trains on the deduped corpus should decontaminate against the
    deduped corpus anyway — matches against dropped members are matches
    against their kept canonical's cluster by construction (the trade:
    an eval doc similar to a dropped member but not to its canonical can
    fall below threshold; the LSH twin's recall floor test quantifies the
    analogous banding trade).

    Both passes use exact trigram Jaccard pairs (deterministic — the gate
    query carries a full recursive-CTE + all-pairs DuckDB oracle);
    ``decontaminate_canonical_lsh`` is the bounded deployable shape.

    Reference parity: generalizes the duplicate-elimination semantics of
    fact_dim_merging.sh:361-413 to the corpus-curation setting, same as
    canonical_keep_list.
    """
    from kafka_etl_automation_spark.operators import dedup

    split = text.hash_split(text_col, train_pct)
    train = documents.filter(split == "train")
    keeps = dedup.canonical_keep_list(train, text_col, id_col, n, threshold)
    # keep_id IS a doc_id (the cluster's min member) — one semi join
    # selects the canonical documents, no extra projection needed
    kept = train.join(
        keeps.select(F.col("keep_id").alias(id_col)), id_col, "semi"
    )
    evals = documents.filter(split == "eval")
    # Persist the deduped corpus: the downstream LSH pass references it
    # from ~5 plan branches (collapse reps/members, signature build, the
    # bipartite label projection, both split-tag sides), and every
    # un-persisted reference would re-run the scan + keep-list semi join
    # (measured 96.5s -> 61.7s at 300x). One original-schema row per
    # kept-or-eval doc — no bigger than the signature frames
    # minhash_lsh_pairs already persists. Same bounded-FIFO lifecycle as
    # dedup's collapse caches (ADVICE r05): evicted frames stay correct,
    # they just recompute on the next action.
    corpus = runtime.persist("corpus", kept.unionByName(evals), eager=True)
    pairs = dedup.ngram_jaccard_pairs(corpus, text_col, id_col, n, threshold)
    return cross_split_contamination(corpus, pairs, text_col, id_col, train_pct)


@runtime.settle_on_exit()
def decontaminate_canonical_lsh(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    train_pct: int = 90,
    num_hashes: int = 64,
    bands: int = 32,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """The deployable decontaminate-against-deduped-corpus shape, with ONE
    shared signature build feeding both LSH passes (VERDICT r07 #2).

    Each pass verifies the way its contract does (the r10 measured
    shape): pass 1's STAR keep-list verifies per-pair (its
    distinct candidate volume is linear, and grouped's per-membership
    shipping measured 2x slower at the octaves), while pass 2's
    BIPARTITE banding verifies per-BUCKET grouped (VERDICT r09 #1): the
    r09 2700x probe measured 1.3e9 surviving pass-2 candidates x ~750B
    of signature sets ≈ 1 TB of per-pair verify shuffle (ENOSPC); grouped
    verification ships each bucket's c sets once — linear in banded rows
    — and enumerates pairs post-shuffle inside the bucket row. See
    BENCH_SCALE.md round 10 for the measured octaves and the crossover.

    Semantics are those of ``decontaminate_canonical`` with its two exact
    pair passes swapped for star-scope and bipartite minhash banding.
    Running those as two separate pair sources would shingle + sign two
    overlapping corpora (the train split, then kept-train ∪ eval), almost
    all fixed overhead at bench SF. Here the whole corpus collapses ONCE
    (exact-duplicate groups never cross a content-keyed split, so every
    member inherits its rep's split label), signs ONCE via
    dedup.signature_sets, and both passes are filters over that one
    persisted signed frame:

      1. keep-list pass: star-scope banded LSH over the ``train``-labeled
         signature rows -> connected components -> kept canonical ids;
      2. cross-split pass: bipartite banded LSH over kept ∪ eval signature
         rows (the split label rides the signed frame — no label re-scan),
         fanned out to raw eval members via the global collapse map
         restricted to eval (kept canonicals map to themselves: their
         dropped exact-dup train members are NOT reintroduced, same as
         ``decontaminate_canonical``, which collapses kept ∪ eval only).

    The final report's split tags also derive from the signed frame, so
    after the initial collapse the documents table is never re-scanned.
    Output schema matches cross_split_contamination; n_train_matches =
    matched train clusters. Recall follows the banding probability — the
    exact twin ext_decontamination_canonical carries the SQL oracle; the
    invariants + recall floor vs that twin are pinned by
    tests/test_operators.py::test_decontamination_canonical_invariants.

    Reference parity: the cross-layer diff semantics of
    FACT_AUTOMATION.sh:182-220 generalized to corpus curation, composed
    with fact_dim_merging.sh:361-413's duplicate elimination.
    """
    from kafka_etl_automation_spark.operators import dedup

    # Scale-adaptive partition floor for the caches below (guide §2 /
    # r12): at the 2700x octave the default 32 local partitions OOM the
    # pass-2 corpus-signature materialization at the default heap; the
    # floor derives partitions from the source scan size (~2 MiB/partition,
    # anchored to r11's measured 512p@1.2GB working point). None at
    # gate/bench SFs (they sit under the floor).
    parts = partitioning.scale_partition_floor(documents)
    is_eval = text.hash_split(text_col, train_pct) == "eval"
    reps, members = dedup._exact_text_collapse(documents, text_col, id_col, parts)
    # One signed frame for everything downstream. All three caches below
    # go to the runtime's corpus pool, which evicts before EACH append so
    # the live set never exceeds the cap mid-call (ADVICE r08).
    reps = runtime.persist("corpus", reps)  # pass 1's audit covers it
    # Not eager (VERDICT r12 #1): pass 1's always-on cap audit is the
    # FIRST job after this frame exists and scans banded <- train_sig <-
    # sig, so it materializes sig (and reps transitively) in the same job
    # — the dedicated count here was a full extra signature pass at every
    # scale. Planning inside that audit job sees the identical
    # unmaterialized-reps state the old sig.count() planned against.
    # The split label, as the boolean "is eval" minhash_lsh_pairs'
    # bipartite contract takes, rides the signature aggregation itself
    # (r13, signature_sets carry=): hash_split is a pure function of the
    # text, so it is per-document constant and first()-reducible — the previous
    # formulation joined the signed frame against a (id, label)
    # projection of reps, one full extra id-keyed shuffle of the signed
    # frame at any scale (guide §2.4: two operations keyed the same way
    # should share one pass).
    sig = runtime.persist(
        "corpus",
        dedup.signature_sets(
            partitioning.by_id(reps, id_col, parts),
            text_col,
            id_col,
            n,
            num_hashes,
            carry={"_lbl": is_eval},
        ),
    )

    # Pass 1: star-scope keep-list over the train rows of the signed frame
    train_sig = sig.filter(~F.col("_lbl"))
    keep_pairs = dedup.minhash_lsh_pairs(
        None,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        collapse_exact=False,
        candidate_scope="star",
        sig_source=train_sig,
    )
    comp = components.connected_components(
        keep_pairs, train_sig.select(F.col("id").alias(id_col)), id_col=id_col
    )
    kept_ids = comp.select(F.col("cluster_id").alias("id")).distinct()

    # Pass 2: bipartite cross-split banding over kept ∪ eval signature
    # rows. Persisted: referenced by band generation and both verification
    # sides — without it each reference re-runs the semi join + union over
    # the cached signed frame (3x the corpus-wide semi-join shuffle at
    # scale).
    # Not eager: pass 2's cap audit scans banded <- corpus_sig first
    # thing, materializing this cache in the same job (sig itself is
    # already materialized by pass 1, so the semi-join + union plan here
    # is over measured stats either way).
    corpus_sig = runtime.persist(
        "corpus",
        sig.join(kept_ids, "id", "semi").unionByName(
            sig.filter(F.col("_lbl"))
        ),
    )
    rep_pairs = dedup.minhash_lsh_pairs(
        None,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        collapse_exact=False,
        sig_source=corpus_sig,
        # the "is eval" label the signature aggregation carried
        bipartite=F.col("_lbl"),
    )
    # Report aggregation at the REP level, then fan out: every raw eval
    # member inherits exactly its rep's matches (identical signatures ->
    # identical verified pairs; the train side is already canonical), so
    # aggregating before the member expansion is value-identical to
    # cross_split_contamination over expanded pairs while skipping the
    # two-sided expansion join and the split-tag joins. Orientation needs
    # ONE label lookup: pairs are cross-split by construction, so knowing
    # id_a's split determines both sides.
    la = sig.select(F.col("id").alias("id_a"), F.col("_lbl").alias("_lbl_a"))
    rep_report = _worst_train_matches(
        rep_pairs.join(la, "id_a"), F.col("_lbl_a"), "eval_rep"
    )
    # Member fan-out of the finished per-rep report (kept canonicals map to
    # themselves; dropped exact-dup train members stay dropped)
    eval_members = members.join(
        sig.filter(F.col("_lbl")).select(F.col("id").alias("rep")),
        "rep",
        "semi",
    )
    return rep_report.join(
        eval_members, rep_report["eval_rep"] == eval_members["rep"]
    ).select(
        F.col("member").alias("eval_doc_id"),
        "worst_train_match",
        "max_jaccard",
        "n_train_matches",
    )


def ngram_overlap_decontamination(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_grams: int = 1,
    train_pct: int = 90,
) -> DataFrame:
    """Exact n-gram-overlap decontamination — the published containment
    contract (GPT-2/3, PaLM, Llama appendices): an eval document is
    contaminated if it shares >= ``min_grams`` exact word n-grams
    (n typically 8-13) with ANY train document. Complements the Jaccard
    family: Jaccard asks "is this eval doc a near-duplicate of some train
    doc"; n-gram containment asks "does any eval PASSAGE appear verbatim
    in train" — the leak channel whole-document similarity misses (a quiz
    question embedded in a long web page).

    Plan (documents-LINEAR, no pair enumeration of any kind):

      1. train gram set: explode each train doc's distinct n-grams, hash
         each gram to a portable md5-derived 60-bit key (identical
         arithmetic in any SQL engine, so hash collisions — not that 60
         bits has meaningful ones — affect engine and oracle identically),
         global ``distinct`` (map-side combinable, one 8-byte-key shuffle);
      2. eval grams: same explode over the eval split (~10% of corpus);
      3. one LEFT join of eval grams against the train gram set, keyed on
         the 8-byte hash, then a per-eval-doc count aggregation.

    At 100 TB the train gram set is ~corpus-token-count rows of 8 bytes —
    far too big to broadcast, exactly the keyed shuffle-hash-join shape a
    cluster is built for; the raw text dies at the scan on both sides.
    (Production variants trade exactness for a bloom filter over the same
    hashes when the gram set must fit in worker memory; the contract and
    this report stay the definition of ground truth.)

    Output: one row per contaminated eval doc — (eval_doc_id, n_grams
    [distinct grams in the doc], n_overlap [of them, how many appear
    anywhere in train], overlap_frac). Docs shorter than n tokens carry no
    grams and cannot be flagged, matching the published contract.

    Reference parity: the cross-layer exact-diff semantics of
    FACT_AUTOMATION.sh:182-220 (hash-keyed membership of one layer's rows
    in another), applied at passage granularity.

    Gram construction rides dedup._exploded_shingles' codegen-only path
    (slice + arrays_zip + array_distinct build the token tuples as native
    array expressions; the string + md5 key run post-explode inside
    whole-stage codegen) — NOT a transform()-lambda shingle build, whose
    per-gram interpreted evaluation (see winnowing_fingerprints'
    profiling note) measured 587s of engine wall at the 300x octave for
    this query before the codegen formulation landed (40.7s after,
    identical digests).
    """
    split = text.hash_split(text_col, train_pct)

    def gram_keys(df: DataFrame) -> DataFrame:
        return _gram_keys(df, text_col, id_col, n)

    train_grams = (
        gram_keys(documents.filter(split == "train"))
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
        # SHUFFLE_HASH, explicitly: Catalyst's size estimate for this frame
        # is bogus at scale — Generate (the gram explode) does NOT multiply
        # the row estimate and the narrow 8-byte `g` projection then
        # collapses sizeInBytes under autoBroadcastJoinThreshold, so the
        # static planner BROADCASTS the corpus-sized gram set (caught at
        # the 2700x octave, r09: a ~600M-row BroadcastExchange overflowed
        # spark.driver.maxResultSize; under the r08 checker session's 8g
        # limit it "worked" by building a 600M-key HashedRelation on one
        # driver thread — catastrophic on a real cluster). The join of two
        # corpus-sized sides keyed on g is exactly a shuffled hash join;
        # the hint also skips the sort a merge join would add.
        .hint("shuffle_hash")
    )
    eval_grams = gram_keys(documents.filter(split == "eval"))
    return (
        eval_grams.join(train_grams, "g", "left")
        .groupBy(F.col("id").alias("eval_doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
        .filter(F.col("n_overlap") >= min_grams)
        .withColumn(
            "overlap_frac",
            (F.col("n_overlap") / F.col("n_grams")).cast("double"),
        )
    )


def _gram_keys(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, g): each document's DISTINCT word n-grams as portable
    md5-derived 60-bit integer keys — the gram representation both
    containment variants (exact join / sharded bloom) and the DuckDB
    oracle share. Rides dedup._exploded_shingles' codegen-only gram build
    (see ngram_overlap_decontamination's formulation note)."""
    from kafka_etl_automation_spark.operators.dedup import _exploded_shingles

    return _exploded_shingles(df, text_col, id_col, n).select(
        "id",
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long").alias("g"),
    )


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """(total_bits, num_hash_functions) for a bloom filter sized to hold
    ``expected_items`` at false-positive probability ``fpp`` — the
    standard m = -n*ln(p)/ln(2)^2, k = (m/n)*ln(2) formulas."""
    import math

    n = max(1, int(expected_items))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)  # whole uint64 words
    k = max(1, min(16, int(round(m / n * math.log(2)))))
    return m, k


def ngram_overlap_decontamination_bloom(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_grams: int = 1,
    train_pct: int = 90,
    fpp: float = 0.001,
    expected_grams: int | None = None,
    segments: int | None = None,
) -> DataFrame:
    """PRODUCTION variant of :func:`ngram_overlap_decontamination`: the
    same published containment contract, with train-gram membership
    answered by a SEGMENT-SHARDED bloom filter instead of the exact
    global gram-set distinct + keyed join.

    Why: the exact shape is documents-linear but its ~|corpus tokens|-key
    global ``distinct`` is the piece that leaves a single node's memory
    hierarchy first (measured: the 2700x octave's 3.8x wall step per 3x
    data, matched by the DuckDB oracle — BENCH_SCALE.md r08). The
    published pipelines (GPT-3 appendix C, PaLM) answer exactly this with
    a bloom filter sized to worker memory. Spark 4.1 does not expose
    bloom_filter_agg in the public function registry, so the filter is
    built Spark-natively:

      1. train gram keys are deduped PARTITION-LOCALLY (one mapInPandas
         np.unique per scan partition — the map-side combine a global
         distinct would get, without its corpus-sized hash-agg; there is
         still NO global distinct: residual cross-partition duplicates
         just re-set the same bits) and routed to ``g % segments``; one
         applyInPandas task per segment builds that segment's bit array
         in numpy (Arrow-batched, vectorized double hashing) — per-task
         state is total_bits/segments, BOUNDED BY CONSTRUCTION regardless
         of corpus size: at 100 TB you raise ``segments`` with the
         cluster, never the per-task footprint;
      2. eval gram keys route to the same segment and are probed via
         ``cogroup``: each task sees one segment's eval grams + that
         segment's one bloom blob, tests k bits vectorized, and emits
         per-(doc, segment) PARTIAL counts — the post-probe shuffle
         carries one tiny row per (doc, segment-with-hits), not per gram;
      3. per-doc totals sum the partials.

    Guarantees: a bloom filter has NO false negatives, so per doc
    n_overlap >= the exact variant's n_overlap and the flagged set is a
    SUPERSET of the exact contract's (pinned by
    tests/test_operators.py::test_ngram_overlap_bloom_superset); false
    positives inflate n_overlap at rate <= ``fpp`` per missing gram
    (measured against the exact twin at the 300x octave, BENCH_SCALE.md
    r09). The 0.001 default reflects that min_grams=1 turns every
    per-gram FP into a flagged doc, and bloom bits are the cheap axis
    (14.4 bits/key): at the sf0.01 gate 0.01 flags 18 docs vs the exact
    3, 0.001 flags 5, 0.0001 flags 3 — tune fpp to the eval suite's
    tolerance for over-quarantine, never under it (decontamination FPs
    only discard extra eval items; FNs would leak). Use the exact twin as ground truth at verification SFs; ship
    this when the gram set outgrows the exact join.

    ``expected_grams`` sizes the filter; when None it is UPPER-BOUNDED by
    the train split's token count (every n-gram starts at a token), which
    costs one scan + one map-side-combining sum — no gram explode, no
    md5, no distinct sketch. Oversizing is the SAFE direction: a filter
    built for more keys than arrive only has a lower FP rate (the r09
    first cut estimated distinct grams with approx_count_distinct, which
    re-ran the entire gram build just to size the filter — a full extra
    pass for precision the sizing doesn't need). ``segments`` defaults to
    cluster parallelism, raised so no segment blob exceeds ~32 MiB.

    Kernel notes (they moved the 2700x octave from 401s to the shipped
    number in BENCH_SCALE.md r09): per-segment size is a power of two so
    every position is an AND mask, never a uint64 modulo (~30 cycles x
    k+2 per gram); the build scatters constant 1s into a byte-per-bit
    array (`arr[pos] = 1` is a buffered fancy store) and packbits()
    to the blob once — `np.bitwise_or.at` is an UNBUFFERED ufunc at
    ~100ns/element, which at ~170M (position, mask) pairs per segment
    was the whole regression; duplicates are NOT pre-uniqued (bit-setting
    is idempotent; np.unique is a sort that costs more than the dup
    re-sets save).

    Output schema/filter match the exact twin: one row per flagged eval
    doc — (eval_doc_id, n_grams, n_overlap, overlap_frac).

    Reference parity: same FACT_AUTOMATION.sh:182-220 hash-keyed
    cross-layer membership contract as the exact variant, at passage
    granularity with sketched membership.
    """
    import numpy as np
    import pandas as pd

    split = text.hash_split(text_col, train_pct)
    train_docs = documents.filter(split == "train")
    train_g = _gram_keys(train_docs, text_col, id_col, n)
    eval_g = _gram_keys(documents.filter(split == "eval"), text_col, id_col, n)

    def _local_unique(it):
        # Partition-LOCAL gram dedup before the build shuffle — the
        # map-side-combine the exact shape's global distinct gets for
        # free, recovered without any global hash-agg: on dup-dense
        # corpora (the 900-variant inflated octaves) co-resident family
        # members share most grams, so this drops the shuffled volume
        # 10-30x; on dup-light corpora it is one cheap per-partition
        # sort. Memory = the partition's gram array (8B/row), bounded by
        # the scan partitioning, never by the corpus.
        import numpy as np
        import pandas as pd

        chunks = [np.empty(0, dtype=np.int64)]
        for batch in it:
            chunks.append(batch["g"].to_numpy(np.int64))
        g = np.unique(np.concatenate(chunks))
        # yield in Arrow-friendly slices
        for i in range(0, len(g), 1 << 20):
            yield pd.DataFrame({"g": g[i : i + (1 << 20)]})

    if expected_grams is None:
        # token-count UPPER BOUND on the distinct gram count: one scan +
        # one map-side-combining sum, no gram build. Oversizing only
        # lowers the FP rate (see docstring).
        from kafka_etl_automation_spark.operators.dedup import tokens

        expected_grams = train_docs.agg(
            F.sum(F.size(tokens(text_col))).alias("c")
        ).collect()[0]["c"] or 1
    m_total, k = _bloom_params(expected_grams, fpp)

    spark = documents.sparkSession
    if segments is None:
        segments = spark.sparkContext.defaultParallelism
    # keep each segment's PACKED blob <= ~32 MiB so probe tasks stay cheap.
    # NB: the BUILD task transiently allocates a byte-per-bit scatter array
    # of m_seg bytes — 8x the packed blob, up to 256 MiB per build task at
    # this cap (ADVICE r09) — so size executor memory to the build array,
    # not the blob; probe tasks only ever touch the packed form.
    max_seg_bits = 32 * 1024 * 1024 * 8
    segments = max(int(segments), (m_total + max_seg_bits - 1) // max_seg_bits)
    # power of two so positions mask instead of uint64-modulo (the mod was
    # ~30 cycles x (k+2) per gram); rounding UP only lowers the FP rate
    m_seg = 1 << max(6, (m_total // segments - 1).bit_length())

    # double hashing (Kirsch-Mitzenmacher): two splitmix64-mixed values
    # give the k probe positions; h2 is forced odd so it is full-period
    # modulo the power-of-two m. Build and probe share this closure so
    # the arithmetic cannot drift apart.
    def _positions(g_u64: "np.ndarray") -> list["np.ndarray"]:
        mask = np.uint64(m_seg - 1)
        z = g_u64 + np.uint64(0x9E3779B97F4B9217)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        h1 = z & mask
        h2 = (z >> np.uint64(17)) | np.uint64(1)
        return [(h1 + np.uint64(i) * h2) & mask for i in range(k)]

    def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        seg = int(pdf["seg"].iloc[0])
        # byte-per-bit scatter of constant 1s, packed once at the end:
        # fancy-store + packbits is ~100x np.bitwise_or.at's unbuffered
        # read-modify-write loop. Duplicates re-set the same byte — cheaper
        # than the sort np.unique would spend removing them.
        arr = np.zeros(m_seg, dtype=np.uint8)
        g = pdf["g"].to_numpy(np.int64).astype(np.uint64)
        for pos in _positions(g):
            arr[pos] = 1
        return pd.DataFrame(
            {"seg": [seg], "bloom": [np.packbits(arr, bitorder="little").tobytes()]}
        )

    def _probe(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        # the id column keeps whatever dtype Arrow handed over (long,
        # string, ...) — no int64 casts on it, so any id_col type the
        # operator family accepts works here too (ADVICE r09)
        if left.empty:
            return pd.DataFrame(
                {"id": left["id"],
                 "n_part": pd.Series(dtype="int64"),
                 "n_hit": pd.Series(dtype="int64")}
            )
        if right.empty:  # no train grams landed in this segment
            out = left.groupby("id").size().reset_index(name="n_part")
            out["n_hit"] = np.zeros(len(out), dtype=np.int64)
            return out
        packed = np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8)
        g = left["g"].to_numpy(np.int64).astype(np.uint64)
        ok = np.ones(len(g), dtype=bool)
        for pos in _positions(g):
            byte = packed[(pos >> np.uint64(3)).astype(np.int64)]
            ok &= ((byte >> (pos & np.uint64(7)).astype(np.uint8))
                   & np.uint8(1)).astype(bool)
        agg = (
            pd.DataFrame({"id": left["id"], "hit": ok.astype(np.int64)})
            .groupby("id")["hit"]
            .agg(["size", "sum"])
            .reset_index()
        )
        return pd.DataFrame(
            {"id": agg["id"],
             "n_part": agg["size"].to_numpy(np.int64),
             "n_hit": agg["sum"].to_numpy(np.int64)}
        )

    seg_col = (F.col("g") % segments).cast("int").alias("seg")
    blooms = (
        train_g.select("g")
        .mapInPandas(_local_unique, schema="g long")
        .select("g", seg_col)
        .groupBy("seg")
        .applyInPandas(_build, schema="seg int, bloom binary")
    )
    # id schema derives from the input (ADVICE r09): the operator family's
    # generic id_col contract — long, string, ... — not a hardcoded long
    id_dt = eval_g.schema["id"].dataType.simpleString()
    partials = (
        eval_g.select("id", "g", seg_col)
        .groupBy("seg")
        .cogroup(blooms.groupBy("seg"))
        .applyInPandas(
            lambda left, right: _probe(left, right),
            schema=f"id {id_dt}, n_part long, n_hit long",
        )
    )
    return (
        partials.groupBy(F.col("id").alias("eval_doc_id"))
        .agg(
            F.sum("n_part").cast("long").alias("n_grams"),
            F.sum("n_hit").cast("long").alias("n_overlap"),
        )
        .filter(F.col("n_overlap") >= min_grams)
        .withColumn(
            "overlap_frac",
            (F.col("n_overlap") / F.col("n_grams")).cast("double"),
        )
    )
