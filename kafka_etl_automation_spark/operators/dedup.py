"""Deduplication operators for large-scale text corpora.

Four strategies, all shared-nothing / shuffle-keyed (no driver collects, no
unbanded cross joins), so they scale to 100 TB by adding executors:

- exact_dedup:      hash-groupBy on a content fingerprint. One shuffle.
- ngram_jaccard:    exact all-pairs n-gram Jaccard via an inverted-index
                    self-join. Correct but O(sum of posting-list^2) — the
                    small-corpus baseline and the verifier for MinHash.
- minhash_lsh:      MinHash signatures + banded LSH. The 100 TB path:
                    candidate generation is linear in corpus size, pairs
                    only materialize inside buckets.
- simhash:          64-bit SimHash + chunk-banded Hamming candidates.

Everything is pure Catalyst expressions (xxhash64, explode, groupBy) — no
Python in the hot path. Determinism: all hash seeds are literals, so
signatures are reproducible across runs/partitionings.
"""

from __future__ import annotations

import logging
import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_etl_automation_spark import runtime

_LOG = logging.getLogger(__name__)

# the async eager counts' old names, which perfbench's tests still call
_eager_count = runtime.eager_count
_settle_async_counts = runtime.settle

# Source-size ceiling below which the collapse's cache-materialization
# count may run CONCURRENTLY with the pipeline's next construction job
# instead of blocking it. Rationale: the eager counts exist so the static
# planner sees MEASURED InMemoryRelation sizes before any derived frame
# lands on a broadcast build side; for a file-backed corpus at most this
# size, every derived narrow frame (grp / members: 16-24 B/doc vs the
# source's full text rows) is itself far under the session's 64 MiB
# autoBroadcastJoinThreshold, so a broadcast picked from an unmaterialized
# ESTIMATE is safe regardless of the race. Past the ceiling (octave
# ladders, real clusters) the counts stay sequential-eager — there they
# are real data-plane work, not fixed overhead, and the measured-stats
# ordering is load-bearing. Matches session.py's broadcast threshold.
_SMALL_SOURCE_BYTES = 64 * 1024 * 1024


def _local_input_bytes(df: DataFrame) -> int | None:
    """Total stat-able local file bytes behind ``df``'s scan, or None when
    the frame has no trustworthy local file source (in-memory relations,
    RDD-backed plans, remote schemes). Driver-side listing only — zero
    Spark jobs. Shared by scale_partition_floor and the small-source
    fast paths."""
    total = 0
    try:
        from urllib.parse import unquote, urlparse

        for uri in df.inputFiles():
            parsed = urlparse(uri)
            if parsed.scheme in ("file", ""):
                try:
                    total += os.path.getsize(unquote(parsed.path))
                except OSError:
                    pass
            else:
                return None  # non-local scheme: no trustworthy size
    except Exception:
        return None
    return total if total > 0 else None


def normalized_text(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse + trim — the canonical form every
    dedup strategy fingerprints."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    return F.split(normalized_text(col), " ")


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    1-indexed element_at matches ANSI array semantics so an external SQL
    oracle can reproduce the exact shingle set.

    Documents with fewer than n tokens yield an empty array. The guard must
    be an explicit when(): sequence(1, 0) in Spark is the DESCENDING array
    [1, 0], and element_at(t, 0) then raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    — one short doc would abort the whole job.
    """
    t = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles, skipping string
    construction: xxhash64 over the n token columns directly gives the same
    information minhash needs at a fraction of the cost (no concat, no
    string hashing). Collision probability at 64 bits is negligible for
    signature purposes; exact verification still uses string shingles."""
    t = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.xxhash64(*[F.element_at(t, (i + j).cast("int")) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<long>"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized content.

    Output: (fingerprint, canonical_id = min id, n_copies). Keep the row
    whose id == canonical_id to dedup. Single hash-shuffle; at 100 TB the
    fingerprint is computed scan-side so only (fp, id) shuffles, not text.
    """
    return (
        df.select(F.md5(normalized_text(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _plan_num_partitions(plan) -> int | None:
    """Output partition count of an adaptive JVM physical plan, read
    without running it, or None when only running it can tell. AQE
    changes a count only by coalescing a shuffle's output, so the walk
    answers just for plans whose output path crosses no shuffle: down the
    adaptive plan's current physical plan (exchanges inserted), unary
    nodes and a broadcast hash join's streamed side to a leaf (its RDD:
    file splits, a driver-side listing, no job) or a loaded cache (its
    block count). Nodes on the way that report a partition count (a
    coalesce, a single-partition operator) cap it. A shuffle (exchange,
    query stage or shuffle read), an unloaded cache (its RDD would build
    the cache) or another multi-child node (unions, other joins) answer
    None."""
    cap = None
    while True:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
            continue
        if "Exchange" in cls or "QueryStage" in cls or cls == "AQEShuffleReadExec":
            return None
        n = plan.outputPartitioning().numPartitions()
        if n > 0:
            cap = n if cap is None else min(cap, n)
        if cls == "BroadcastHashJoinExec":
            plan = plan.streamedPlan()
        elif cls == "InMemoryTableScanExec":
            builder = plan.relation().cacheBuilder()
            if not builder.isCachedColumnBuffersLoaded():
                return None
            count = builder.cachedColumnBuffers().getNumPartitions()
            break
        else:
            kids = plan.children()
            if kids.size() == 1:
                plan = kids.apply(0)
            elif kids.size() == 0:
                count = plan.execute().getNumPartitions()
                break
            else:
                return None
    return count if cap is None else min(cap, count)


def _jvm_num_partitions(df: DataFrame) -> int:
    """Partition count via the JVM Dataset — df.rdd would build the full
    javaToPython serializer pipeline per call (VERDICT r02 minor #5).

    The count is the one the input's RDD has, after AQE's coalescing: a
    plan with no exchange builds its RDD without running anything. An
    adaptive plan (any exchange, e.g. a broadcast join) builds it by
    running its query stages, and the real query then recomputes them;
    where no shuffle lies on the output path the count is read from the
    plan instead (:func:`_plan_num_partitions`), which gives the same
    answer. A shuffle-topped input keeps the executing probe: its count
    after coalescing depends on the shuffle's measured bytes, and a small
    one coalesces below defaultParallelism, which is exactly when the
    fan-out must fire.

    PRIVATE API (df._jdf and the physical plan classes), pinned against
    pyspark 4.1.x. Any drift raises and _fanout_rebalance falls back to
    the portable probe — tests/test_operators.py asserts the fallback
    decides identically on plain and adaptive inputs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        n = _plan_num_partitions(plan)
        if n is not None:
            return n
    return df._jdf.rdd().getNumPartitions()


def _fanout_rebalance(df: DataFrame) -> DataFrame:
    """Scale parallelism UP before a CPU-multiplying stage (shingle/token
    explode ~100x the row count and hashes every shingle). A small parquet
    input scans as few partitions (one file => one task), which would
    single-thread the whole pipeline; round-robin repartition to the
    cluster's core count first. Guarded: never reduces partitioning, so a
    100 TB corpus that already scans wide passes through untouched."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nparts = _jvm_num_partitions(df)
    except Exception:  # private-API drift -> the portable (slower) probe
        nparts = df.rdd.getNumPartitions()
    if nparts < target:
        return df.repartition(target)
    return df


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, sh): each document's DISTINCT n-gram shingle strings, one row
    per shingle — the exploded form of ``shingles()`` with the identical
    value set, built without the higher-order transform() lambda: slice +
    arrays_zip assemble the token tuples as native codegen array
    expressions, array_distinct dedups the tuples in-array (distinct
    structs == distinct gram strings: tokens carry no spaces, so the
    space-join is bijective), and the string is concatenated POST-explode
    inside whole-stage codegen. Interpreted HOF lambdas cost ~25µs per
    gram (see winnowing_fingerprints / _shingle_hash_rows); this path
    feeds the exact-Jaccard verifiers whose gram volume is corpus-sized.
    Zero exchange: explode never splits a document across partitions.
    Equality with shingles() is pinned by
    tests/test_operators.py::test_exploded_shingles_matches_shingles."""
    toks = tokens(text_col)
    base = (
        _fanout_rebalance(df)
        .select(
            F.col(id_col).alias("id"),
            toks.alias("tk"),
            (F.size(toks) - (n - 1)).alias("m"),
        )
        .filter(F.col("m") >= 1)
    )
    z = F.arrays_zip(
        *[F.slice("tk", i + 1, F.col("m")).alias(f"t{i}") for i in range(n)]
    )
    return base.select("id", F.explode(F.array_distinct(z)).alias("s")).select(
        "id",
        F.concat_ws(" ", *[F.col("s")[f"t{k}"] for k in range(n)]).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above threshold.

    Inverted-index self-join: explode distinct shingles, join docs sharing a
    shingle (id_a < id_b to halve the space), count intersections, compute
    |A∩B| / (|A|+|B|-|A∩B|). Integer-ratio division keeps the score
    bit-identical across engines.

    Scale: posting lists for very common shingles explode quadratically —
    at 100 TB use minhash_lsh_pairs and keep this as the verifier on
    candidate pairs only.
    """
    # every join side below is corpus-sized (posting lists / per-doc size
    # counts) but Generate-derived, so its size ESTIMATE collapses and the
    # planner would broadcast it — hint shuffle_hash everywhere (the
    # BroadcastOverGenerate class; see the r09 containment incident)
    ex = _exploded_shingles(df, text_col, id_col, n)
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh")).hint("shuffle_hash")

    a, b = ex.alias("a"), ex.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def _shingle_hash_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """(id, sh): one row per n-gram occurrence, sh = xxhash64 over the n
    token columns — bit-identical to shingle_hashes() elements (verified
    by a full-corpus set comparison when this path landed) but built
    entirely from native codegen expressions, zero exchange.

    Why not HOF: transform/element_at lambdas are interpreted, not
    whole-stage-codegen'd — profiling showed ~25µs per shingle, 14s for
    a 5k-doc corpus, dominating the minhash pipeline.

    Formulation history (all three value-identical, pinned by
    tests/test_operators.py::test_shingle_hash_rows_formulations):
    - r07: posexplode + window leads — paid one (id)-keyed shuffle AND a
      per-id sort to line the tokens up; the full token stream rode that
      exchange.
    - r08: slice x n + arrays_zip — zero exchange (the explode never
      splits a document across partitions, so groupBy("id") partial-
      aggregates map-side), but it copied the token array n times and
      built a struct array per document BEFORE the explode; that
      array-build constant cost ~26% at bench SF even though it beat
      the r07 shuffle at the octaves.
    - r09 (shipped): explode(sequence(1, m)) + element_at(tk, p+k) —
      zero exchange AND zero copies: in whole-stage codegen the Generate
      keeps `tk` as a per-input-row variable, so each exploded position
      indexes the ORIGINAL token array; the only array built per doc is
      a cheap long sequence. Same-day A/B (min-of-two, noop sink, full
      64-min signature aggregation downstream): sf0.1 lead-window
      0.975s / slice+zip 1.182s / this 0.982s; 300x octave 11.34s /
      9.26s / 9.09s — dominant at both ends. The cost relation is also
      pinned by the shingle-formulation rows in tools/stage_bench.py so
      a future swap can't regress silently.

    Same values row-for-row (xxhash64 over the same n token columns;
    duplicates retained — min/collect_set downstream are duplicate-
    insensitive); docs with fewer than n tokens emit no rows, matching
    shingle_hashes' empty-array semantics.
    """
    toks = tokens(text_col)
    extra = [c.alias(name) for name, c in (carry or {}).items()]
    extra_names = list((carry or {}).keys())
    base = (
        _fanout_rebalance(df)
        .select(
            F.col(id_col).alias("id"),
            *extra,
            toks.alias("tk"),
            (F.size(toks) - (n - 1)).alias("m"),
        )
        .filter(F.col("m") >= 1)
    )
    return base.select(
        "id", *extra_names, "tk",
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("p"),
    ).select(
        "id",
        *extra_names,
        F.xxhash64(
            *[F.element_at("tk", (F.col("p") + k).cast("int")) for k in range(n)]
        ).alias("sh"),
    )


def signature_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """The per-document frame minhash_lsh_pairs builds internally: one row
    per doc with BOTH the exact-verification shingle-hash set (``sh``,
    array<long>) and the full MinHash signature (``mh0..mh{k-1}``), built
    in ONE explode + ONE aggregation (the k mins and the collect_set
    combine map-side, so the shuffle carries one row per doc).

    Public so multi-pass pipelines can sign a corpus ONCE and feed several
    LSH passes via ``minhash_lsh_pairs(sig_source=...)`` — e.g.
    decontaminate_canonical_lsh's keep-list pass (train rows) and
    cross-split pass (kept ∪ eval rows) are both filters over one shared
    signed frame instead of two full shingle+hash builds over overlapping
    corpora (VERDICT r07 #2). Documents with fewer than n tokens yield no
    row, same as the inline build.

    ``carry`` (r13): extra per-document columns — each a Column over
    ``df``'s row that is CONSTANT per document (e.g. a content-keyed
    split label) — carried through the gram explode and reduced with
    ``first()`` in the same per-doc aggregation. first() is
    deterministic here ONLY because the value is per-group constant
    (the F.first("_nl") invariant); the alternative was a corpus-wide
    id-keyed JOIN of the signed frame against a label projection — one
    full extra shuffle of the signed frame at any scale (guide §2.4).
    The carried column rides the zero-exchange explode and the map-side
    partial combine, so it never crosses a shuffle at gram volume."""
    rows = _shingle_hash_rows(df, text_col, id_col, n, carry=carry)
    return rows.groupBy("id").agg(
        F.collect_set("sh").alias("sh"),
        *[
            F.min(F.xxhash64(F.lit(j), F.col("sh"))).alias(f"mh{j}")
            for j in range(num_hashes)
        ],
        *[F.first(name).alias(name) for name in (carry or {})],
    )


def _exact_text_collapse(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate texts to their min-id representative.

    Returns ``(reps, members)``: ``reps`` keeps one original-schema row per
    distinct text; ``members`` maps ``rep -> member`` for EVERY input id
    (reps map to themselves). Group identity is (length, xxhash64) of the
    raw text — same collision class (~N²/2⁶⁴) the shingle hashing already
    accepts.

    Why this exists: near-dup candidate generation is quadratic in
    bucket occupancy, and real crawl corpora carry exact-duplicate
    clusters (boilerplate pages, mirrored docs) whose members share
    identical signatures — so every LSH family degenerates to
    |cluster|² candidate pairs that verification then re-proves are
    identical. The 100x scale-proof measured exactly that
    (ext_minhash_lsh 6.6s at 30x -> 51s at 100x while data grew 3.3x:
    dup clusters grew 30 -> 100 members, pairs ~11x). Collapsing first
    makes candidate generation quadratic only in DISTINCT-text
    co-occurrence; the member fan-back is linear in output size, which
    is the floor for pair-emitting semantics.

    Plan shape (skew-safe by construction): the group key reduces to a
    16-byte (member, len, hash) frame before any shuffle — raw text
    never rides a text-keyed exchange, so a 10M-member dup cluster is a
    hot key of 16-byte rows, not of documents; no collect_list arrays
    anywhere. reps filters via an id-keyed semi-join (uniform keys).
    """
    # Both frames go to the runtime's collapse pool (bounded FIFO, evicted
    # before each append): a session that never calls
    # release_collapse_caches() holds O(1) cached maps, not O(#calls).
    kl, kh = F.length(F.col(text_col)), F.xxhash64(F.col(text_col))
    keyed = df.select(
        F.col(id_col).alias("member"), kl.alias("_kl"), kh.alias("_kh")
    )
    # grp is one row per DISTINCT TEXT — corpus-sized, and its static
    # size ESTIMATE collapses through the narrow projection, which would
    # put it on a broadcast build side at any SF (the
    # BroadcastOverGenerate class, r09). Persist + eager count instead:
    # a MATERIALIZED InMemoryRelation reports its measured size, so the
    # planner broadcasts it exactly when it truly fits (small corpora)
    # and never when it doesn't.
    grp = runtime.persist(
        "collapse", keyed.groupBy("_kl", "_kh").agg(F.min("member").alias("rep"))
    )
    # (no count here: members' eager count below materializes grp
    # transitively — one materialization job, two measured caches)
    # members feeds BOTH sides of the cross expansion and both sides of
    # the within self-join (4 references) — persist or the whole collapse
    # pipeline (document scan included) re-executes per reference. Two
    # longs per doc: a sliver at any scale.
    members = runtime.persist(
        "collapse", keyed.join(grp, ["_kl", "_kh"]).select("rep", "member")
    )
    # Eager, same reason — but for a provably-small file-backed source the
    # count runs CONCURRENTLY with the pipeline's next construction job
    # (guide §2.6; see _SMALL_SOURCE_BYTES for why the stats race is safe
    # there) and is settled when the calling operator returns or raises
    # (runtime.settle_on_exit). At
    # bench SF this removes one full sequential job per collapse-backed
    # query; at octave/cluster scale behavior is unchanged.
    size = _local_input_bytes(df)
    runtime.eager_count(
        members, overlap=size is not None and size <= _SMALL_SOURCE_BYTES
    )
    reps = df.join(
        grp.select(F.col("rep").alias(id_col)), id_col, "semi"
    )
    return reps, members


# max_bucket="auto" budget: allowed candidate emissions per banded row
# before the skew guard engages (see minhash_lsh_pairs docstring). 64 is
# ~6x the measured worst real corpus (2700x adversarial dup-dense: 11.4
# emissions/row uncapped) while a single boilerplate bucket of 100k
# mutually-dissimilar docs (5e9 emissions against a small corpus's ~1e6
# banded rows) exceeds it by orders of magnitude.
_AUTO_WORK_PER_ROW = 64

# Flood fail-fast (VERDICT r11 #5): estimated narrow candidate rows in the
# grouped-once verify shuffle above which a single-disk local run under the
# default lz4 codec risks ENOSPC (measured r11: ~1.3e9 narrow rows at 2700x
# needed zstd to complete on one disk; 900x's ~4e8 did not). Only enforced
# for local[...] masters — a multi-disk cluster shrugs at these bytes.
_FLOOD_NARROW_ROWS = 800_000_000
# partition escalation target: ~12.5M narrow rows (~500 MB raw) per
# reduction task keeps each hash table / spill run comfortably in memory
_FLOOD_ROWS_PER_PARTITION = 12_500_000

# Cap-audit skip bound (r13 fast path): with an explicit int cap and no
# stats probe, the bucket-size histogram is skipped when the WORST-CASE
# kept emission volume (banded_rows x (cap-1) / 2) sits at or under this
# bound — then the flood policy is settled conservatively (worst case is
# already under the ENOSPC ceiling) and the packed-reduction index bound
# is the cap itself. Equal to the flood ceiling, but a separate knob so
# tests can exercise the full-audit path without also tripping the
# flood abort.
_AUDIT_SKIP_MAX_WORST = _FLOOD_NARROW_ROWS


def _flood_escalation(
    kept_work: int, master: str, codec: str, cur_partitions: int
) -> tuple[str, object] | None:
    """Plan-time flood policy for the grouped verify shuffle (VERDICT r11
    #5) — pure for testability. The cap audit's kept emission count is
    known BEFORE enumeration, so a run that would ENOSPC a single-disk
    local box 10 minutes in can abort NOW naming the exact knobs
    (spark.io.compression.codec is immutable after session start), and a
    run that merely needs more reduction tasks gets them automatically
    (shuffle partitions ARE runtime-settable; AQE coalesces small
    partitions back, so sub-flood plans are untouched).

    Returns ``("abort", message)``, ``("raise_partitions", n)``, or None.
    """
    if kept_work <= _FLOOD_NARROW_ROWS:
        return None
    if master.startswith("local") and codec == "lz4":
        return (
            "abort",
            f"minhash_lsh_pairs: ~{kept_work:,} narrow candidate rows will "
            "ride the grouped verify shuffle — past the single-disk lz4 "
            f"ENOSPC ceiling (~{_FLOOD_NARROW_ROWS:,}, measured "
            "BENCH_SCALE.md r11). Restart the session with "
            "SPARK_GRAFT_IO_CODEC=zstd (halves shuffle bytes; the shuffle "
            "partitions are then raised automatically), "
            "or cap the flood (max_bucket=<int>) if these buckets are "
            "boilerplate",
        )
    want = min(2048, max(cur_partitions, kept_work // _FLOOD_ROWS_PER_PARTITION))
    if want > cur_partitions:
        return ("raise_partitions", want)
    return None


# Scale-adaptive shuffle-partition floor (guide §2: partitioning must
# derive from input size, not a constant tuned for either local mode or
# the cluster). ~2 MiB of source parquet per shuffle partition anchors to
# the measured working point: the 2700x octave's 1.2 GB documents table
# ran the canonical pipelines at 32 GB heap with 512 partitions (r11,
# BENCH_SCALE.md) = 2.3 MiB/partition, while 32 partitions — the local
# default — OOMs the pass-2 corpus materialization at that octave (r12,
# measured: Java heap space in the corpus pool's runtime.persist). Gate/bench
# SFs sit far below the floor (sf0.1 documents ≈ 2 MB -> want 1), so
# their plans and walls are untouched; AQE coalesces any over-partitioned
# small stage right back. Caches are the exception: any input past the
# threshold (a floor of 2+ partitions, ~4 MiB of source) pins cached
# partitioning, raised or not, so caches persisted from then on keep the
# session's count (see _CACHED_PARTITIONING).
_SCALE_BYTES_PER_PARTITION = 2 * 1024 * 1024
_SCALE_PARTITION_CAP = 2048


def _partition_floor(input_bytes: int, cur_partitions: int) -> int | None:
    """Pure sizing rule: partitions the input's heavy shuffles want, or
    None when the current setting already suffices. Never lowers."""
    want = min(_SCALE_PARTITION_CAP, input_bytes // _SCALE_BYTES_PER_PARTITION)
    return int(want) if want > cur_partitions else None


# The runtime keeps a first-raise snapshot of spark.sql.shuffle.partitions
# per application: scale_partition_floor / the flood escalation raise the
# conf session-sticky (the floored PIPELINE executes lazily, so the raise
# must outlive the builder call), but a STREAMING query started later in
# the same session must not inherit it — streaming gets no AQE coalescing,
# and a 2048-partition state-store stage overflows
# spark.driver.maxResultSize (the r12 incident; ADVICE r12 medium). The
# streaming builders call restore_shuffle_partitions() before starting
# their query; the next batch-pipeline entry re-derives its floor from its
# own input size, so nothing is lost. The snapshot also holds the
# cached-partitioning conf a raise pins.

# Engine sessions let AQE coalesce inside cached plans (session.sql_confs);
# every partition raise, and any scale_partition_floor input past the
# floor threshold, pins that off until restore_shuffle_partitions, so
# caches persisted under a floor keep its count (see scale_partition_floor).
_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _pin_cached_partitioning(spark, cur: int) -> None:
    """Pin cached partitioning off, snapshotting it and the current shuffle
    partitions (``cur``) on the session's first pin or raise."""
    runtime.snapshot_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": str(cur),
            _CACHED_PARTITIONING: spark.conf.get(_CACHED_PARTITIONING, None),
        },
    )
    spark.conf.set(_CACHED_PARTITIONING, "false")


def _raise_shuffle_partitions(spark, cur: int, want: int) -> None:
    """Set the session's shuffle partitions to ``want`` and pin cached
    partitioning (see :func:`_pin_cached_partitioning`)."""
    _pin_cached_partitioning(spark, cur)
    spark.conf.set("spark.sql.shuffle.partitions", str(want))


def restore_shuffle_partitions(spark) -> int | None:
    """Restore ``spark.sql.shuffle.partitions`` and the cached-partitioning
    conf to their values before the first scale_partition_floor /
    flood-escalation raise of this session. No-op when nothing was ever
    raised. Returns the restored partition count."""
    prev = runtime.restore_confs(spark)
    return None if prev is None else int(prev["spark.sql.shuffle.partitions"])


def scale_partition_floor(df: DataFrame) -> int | None:
    """Raise ``spark.sql.shuffle.partitions`` to a floor derived from
    ``df``'s file-source scan size, session-sticky, never lowering.

    Every corpus-scale pipeline entry calls this BEFORE its first wide
    stage, so per-task state (signature-cache unroll, join builds, sort
    runs) shrinks with corpus growth automatically instead of requiring
    the operator to know the magic number. Input size comes
    from the driver-side file listing (``df.inputFiles`` + stat for
    ``file:`` URIs — zero Spark jobs). Frames with no stat-able local file
    source (in-memory relations, RDD-backed plans, remote schemes) are
    left alone: Catalyst's fallback ``sizeInBytes`` is NOT a usable proxy
    here — it defaults to ``Long.MaxValue`` for RDD-backed plans and
    multiplies children for joins, so trusting it once leaked a sticky
    2048-partition conf into a test session and broke unrelated streaming
    queries (no AQE coalescing there) with 2048-task state-store stages
    overflowing ``spark.driver.maxResultSize``. Any input past the floor
    threshold (a floor above one partition) also pins cached partitioning
    (``canChangeCachedPlanOutputPartitioning=false``, see
    ``_CACHED_PARTITIONING``), whether or not the conf had to be raised: a
    session already at or above the floor (many cores) needs its caches
    held at that count just as much, since the floor exists for the caches'
    per-task state and AQE's coalescing inside cached plans would shrink
    them back to a few partitions. ``restore_shuffle_partitions`` undoes
    both. Returns the new floor, or None when the conf was not raised.
    """
    spark = df.sparkSession
    total = _local_input_bytes(df)
    if total is None:
        return None  # no stat-able file source -> leave the conf alone
    try:
        # conf read inside the fail-safe too (ADVICE r12): a non-numeric
        # or unreadable session value must degrade to the documented
        # leave-the-conf-alone no-op, not raise out of the operator
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    want = _partition_floor(total, cur)
    if want is not None:
        _raise_shuffle_partitions(spark, cur, want)
        _LOG.warning(
            "scale_partition_floor: raising spark.sql.shuffle.partitions "
            "%d -> %d for a ~%.1f GB file-source corpus (sticky for this "
            "session; AQE coalesces small shuffle partitions back, caches "
            "persisted from now on keep the floor)",
            cur,
            want,
            total / 2**30,
        )
    elif total // _SCALE_BYTES_PER_PARTITION > 1:
        _pin_cached_partitioning(spark, cur)
    return want


def release_collapse_caches() -> int:
    """Unpersist every member map cached by `_exact_text_collapse`.

    Call after materializing the result of a collapse-backed query
    (minhash_lsh_pairs / simhash_near_pairs / dedup pipelines) to return
    the cached (rep, member) partitions; re-running the result DataFrame
    afterwards stays correct — it just recomputes the map. Without an
    explicit call, `_exact_text_collapse` itself evicts FIFO past a small
    cap, so long-lived sessions stay bounded either way (ADVICE r05).
    Returns the number of frames released.
    """
    return runtime.release("collapse")


def _expand_member_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    surviving_reps: DataFrame,
    score_col: str,
    identical_score,
    include_within: bool = True,
) -> DataFrame:
    """Fan verified representative pairs back out to member pairs.

    - cross-group: every (a in A, b in B) inherits the rep pair's score —
      identical texts have identical signatures, so each member pair
      co-buckets exactly when its rep pair does;
    - within-group: all (a < b) member pairs of a multi-member group score
      ``identical_score`` (Jaccard 1.0 / Hamming 0), emitted only when the
      group's rep still has a surviving signature/bucket (mirrors the
      original semantics where signature-less or fully-capped docs emit
      nothing). ``include_within=False`` drops this leg — the bipartite
      contract, where same-text members share a content-keyed label and
      identity pairs are same-label by construction.
    Both joins are keyed and output-linear.
    """
    ma = members.select(F.col("rep").alias("id_a"), F.col("member").alias("_a"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("member").alias("_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            F.col(score_col),
        )
    )
    p, q = members.alias("p"), members.alias("q")
    within = (
        p.join(
            q,
            (F.col("p.rep") == F.col("q.rep"))
            & (F.col("p.member") < F.col("q.member")),
        )
        .join(
            surviving_reps.select(F.col("id").alias("rep")), "rep", "semi"
        )
        .select(
            F.col("p.member").alias("id_a"),
            F.col("q.member").alias("id_b"),
            identical_score.alias(score_col),
        )
    )
    return cross.unionByName(within) if include_within else cross


@runtime.settle_on_exit()
def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | str | None = "auto",
    collapse_exact: bool = True,
    stats: dict | None = None,
    candidate_scope: str = "all",
    bipartite=None,
    content_keyed: bool = False,
    sig_source: DataFrame | None = None,
    bipartite_col: str | None = None,
    members: DataFrame | None = None,
    verify: str | None = None,
    max_labels: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    Jaccard over the 64-bit shingle-hash sets so the output has no false
    positives beyond hash-collision odds (~|sh|²/2⁶⁴ per pair — negligible
    and deterministic; recall is the probabilistic part, ~ 1-(1-t^r)^b).

    ``candidate_scope``:
      - ``"all"`` (default): every in-bucket pair is a candidate — C(n,2)
        per bucket. The PAIR-REPORT contract: use when the pairs
        themselves are the output (ext_minhash_lsh).
      - ``"star"``: only (bucket-min, member) edges — n-1 per bucket, NO
        self-join at all (the min rides the same window the size filter
        uses). The CLUSTERING contract: connected components over star
        edges equal those over all edges whenever each bucket's members
        are similar to its min (dup families are star/clique-shaped);
        a chain a~b~c whose ends meet only through b in a single bucket
        can split, so star trades a little recall for candidate counts
        LINEAR in corpus size. The r06 probe measured the all-pairs
        rep graph at 1.76M -> 20.0M verified pairs for 3.3x docs
        (quadratic in near-dup family size) with CC iterations constant;
        star is what makes ext_dedup_canonical_lsh documents-linear.
        Precision is unchanged — star candidates are exact-verified too.

    ``bipartite``: optional Column over ``df``'s columns (e.g.
    ``text.hash_split("text")``). Only candidates whose two sides DIFFER
    on this label are emitted. For cross-split decontamination the
    downstream filter discards same-split pairs anyway, so this is
    output-identical and removes the within-split (train-train) share —
    the quadratic bulk — from the self-join. Mutually exclusive with
    ``candidate_scope="star"``. With ``collapse_exact`` the label must be
    CONTENT-determined (a function of ``text_col``, like ``hash_split``):
    the label is evaluated once per distinct-text rep and inherited by
    every member, which is exact iff identical texts share a label.

    ``verify`` (default ``None`` = CONTRACT-AWARE: ``"pairs"`` for
    ``candidate_scope="star"``, ``"grouped"`` otherwise — the r10 octave
    ladder measured the crossover, BENCH_SCALE.md round 10):
      - ``"pairs"`` (the r09 shape; star's only shape): distinct candidate
        pairs re-join both signature sets — each surviving candidate
        ships TWO ~|sh|-sized array copies through the verify joins, so
        verify shuffle bytes are quadratic in bucket occupancy (the
        measured 2700x ceiling: 1.3e9 surviving pairs x ~750B of sets ≈
        1 TB of shuffle, ENOSPC — VERDICT r09 #1). Star's candidate
        volume is LINEAR by construction (few distinct pairs per doc
        after the cross-band distinct), so shipping two sets per
        DISTINCT pair beats grouped's one-copy-per-surviving-membership
        (~bands per doc) plus r10's per-band re-verification — tight dup
        families at the dedup threshold co-occur in most of the 16
        r=4 bands, so grouped re-intersected each star edge up to 16x:
        measured 16.5s vs 31.8s at 30x and 46.3s vs 112.7s at 300x on
        the keep-list pipeline; once-per-pair grouped still lost 2.3x at
        900x (BENCH_SCALE.md round 11). Star with ``"grouped"`` raises
        ValueError.
      - ``"grouped"`` (per-BUCKET grouped verification with ONCE-PER-PAIR
        Jaccard — VERDICT r10 #1; the default for the all-pairs and
        bipartite contracts): surviving bucket members (bucket size in
        [2, max_bucket]) join their hash set ONCE PER BUCKET MEMBERSHIP
        (<= bands copies per doc — LINEAR in corpus size), aggregate to
        one row per bucket holding the bucket's c sets, then enumeration
        and verification SPLIT: the bucket rows first emit NARROW
        (id_a, id_b, location) candidates — ids and array indices only,
        the sh arrays stay in the bucket row — a groupBy reduces each
        pair to its MINIMUM co-occurring band (min over a bit-packed
        (band, w, i, j) long), and a narrow join back to the bucket
        rows on (band, bkey) — partition-aligned with the aggregation,
        so only the pair side shuffles — runs exact Jaccard EXACTLY ONCE
        per distinct pair via element_at on the min band's array. The
        r10 shape re-intersected each pair once per co-occurring band
        (tight families co-occur in most of 16 bands — the bulk of the
        compute-super-linear 2700x wall); the min-band reduction trades
        that for one narrow shuffle, linear in candidate emissions.
        Packing keeps the reduction a HashAggregate (VERDICT r11 #2);
        past its bounds (bands > 256, or a kept bucket of 2^27 docs) a
        min over a struct selects the same row.
        Value-identical to "pairs" by construction — pinned by
        tests/test_operators.py::test_grouped_verify_matches_pairs.

    ``max_labels``: optional caller attestation that the bipartite label
    column takes at most this many distinct values; with 2 (the
    train/eval hash_split contracts) grouped verification skips its
    within-rest-block enumeration branch at plan time. Only valid with a
    bipartite label; never inferred from data.

    ``max_bucket`` is a SKEW GUARD, not a free parameter — a bucket is
    dropped wholesale when it overflows, and at duplicate-heavy corpora
    the overflowing buckets ARE the duplicate families. Measured
    (BENCH_SCALE.md r11 cap-recall): a fixed max_bucket=1000 cost 0% of
    true merges at 300x and 0.5% at 900x (family size < cap), but 50% of
    merges / 59% of truly contaminated evals at 2700x (family size
    ~2700 > cap). A fixed cap is therefore a wrong-output default on
    realistic corpora (VERDICT r11 #1), so the default is:

      - ``"auto"`` (default): the always-on bucket-size audit measures
        the uncapped candidate-emission volume BEFORE enumeration; if it
        is at most ``_AUTO_WORK_PER_ROW`` (64) emissions per
        banded row — i.e. the work is corpus-LINEAR up to a constant —
        the run is uncapped and no family is ever dropped. Only when
        in-bucket quadratic growth pushes past that scale-free budget
        (boilerplate floods: huge buckets of DISSIMILAR docs) does the
        guard engage, choosing the LARGEST cap whose kept emission
        volume fits the budget and WARNing with the dropped counts.
        Duplicate families grow the budget's denominator too (their
        members are banded rows), so family-heavy corpora stay uncapped
        — measured at 2700x: 4.9e9 uncapped emissions ≈ 11 rows/banded
        row, well under the default budget, and the uncapped run
        completes under grouped verification.
      - ``None``: explicitly uncapped — no size filter, audit is
        informational only. (Before r12 ``None`` silently emitted ZERO
        pairs — the bsz <= NULL comparison filtered every bucket row —
        ADVICE r11 medium; now it is the documented uncapped spelling.)
      - an ``int``: a hard cap, for cross-round determinism pins and
        corpora whose flood shape is known. Size it ABOVE the expected
        duplicate family size. The audit runs (and WARNs on any bite)
        whenever the worst-case kept volume — banded_rows x (cap-1)/2 —
        exceeds the flood ceiling, which covers every corpus where a cap
        has ever measurably bitten; below that bound the histogram job is
        skipped at build time (r13: one less aggregation pass per
        operator) and a biting cap is NOT warned — pass ``stats=`` or use
        ``"auto"`` for always-audited runs.

    ``collapse_exact`` (default on — the deployable shape) runs the whole
    LSH pipeline on DISTINCT texts only and fans verified pairs back out
    to members (`_exact_text_collapse`): identical texts have identical
    signatures, so the expansion reproduces the same pairs with the same
    scores while candidate generation stops being quadratic in
    exact-dup-cluster size (the 100x scale-proof's super-linear blowup).
    One intended semantic change: ``max_bucket`` now counts distinct
    texts per bucket, so duplicate multiplicity alone can no longer evict
    a bucket — strictly better recall at the cap boundary.

    Plan shape (deliberately few exchanges — an earlier version ran
    signatures through an interpreted higher-order-function projection and
    verification through a second inverted-index self-join, ~12 shuffles
    plus ~25µs/shingle of non-codegen expression overhead):

      posexplode tokens -> window leads -> shingle-hash rows (codegen)
        -> ONE per-doc aggregation: collect_set(sh) + all 64 mins
           [persisted, one row per doc]
        -> 16 band keys as pure projections -> explode bands [persisted]
        -> bucket-size skew filter (max_bucket) -> bucket self-join
        -> distinct candidate pairs
        -> join each side back to its hash set -> array_intersect Jaccard

    Shuffles: the window sort (reused by the aggregation), bucket sizing,
    the self-join, distinct, and the two verification joins.

    The body runs five stages in order: the signed source, banding plus
    the cap audit, candidates, verification, and member expansion.
    """
    if candidate_scope not in ("all", "star"):
        raise ValueError(
            f"candidate_scope must be 'all' or 'star', got {candidate_scope!r}"
        )
    if verify is None:
        verify = "pairs" if candidate_scope == "star" else "grouped"
    if verify not in ("pairs", "grouped"):
        raise ValueError(f"verify must be 'pairs' or 'grouped', got {verify!r}")
    if candidate_scope == "star" and verify == "grouped":
        raise ValueError(
            "candidate_scope='star' and verify='grouped' are mutually "
            "exclusive: star verifies its distinct edges by pairs"
        )
    if isinstance(max_bucket, str):
        if max_bucket != "auto":
            raise ValueError(
                f"max_bucket must be 'auto', None (uncapped), or an int >= 2; "
                f"got {max_bucket!r}"
            )
    elif max_bucket is not None and max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    if max_labels is not None:
        # Caller ATTESTATION that the bipartite label column takes at most
        # this many distinct values (e.g. 2 for text.hash_split's binary
        # train/eval). With <=2, grouped verification's within-rest-block
        # enumeration branch is skipped at PLAN time — it can only emit
        # for buckets holding >2 distinct labels, impossible under the
        # attestation. Wrong attestation = silently dropped cross-label
        # pairs among non-min labels, so this is opt-in, never inferred.
        if bipartite is None and bipartite_col is None:
            raise ValueError("max_labels is only meaningful with a bipartite label")
        if max_labels < 2:
            raise ValueError(f"max_labels must be >= 2, got {max_labels}")
    if candidate_scope == "star" and bipartite is not None:
        raise ValueError(
            "candidate_scope='star' and bipartite are mutually exclusive: "
            "star edges all touch the bucket min regardless of label"
        )
    if sig_source is not None:
        # Shared-signature mode (VERDICT r07 #2): the caller pre-built the
        # (id, sh, mh0..mh{k-1}) frame — usually one signature_sets() pass
        # over a superset corpus, filtered per LSH pass — so this call does
        # no shingling/collapsing of its own. Collapse/label semantics are
        # the caller's job: pass ``members`` for member fan-out and
        # ``bipartite_col`` (a label column already ON sig_source) for the
        # cross-label contract.
        if collapse_exact:
            raise ValueError(
                "sig_source requires collapse_exact=False: the caller owns "
                "collapse (pass members= for the fan-out)"
            )
        if bipartite is not None:
            raise ValueError(
                "sig_source requires bipartite=None: put the label on the "
                "signed frame and name it via bipartite_col"
            )
    elif bipartite_col is not None or members is not None:
        raise ValueError("bipartite_col/members are only valid with sig_source")
    if bipartite_col is not None and candidate_scope == "star":
        raise ValueError(
            "candidate_scope='star' and bipartite_col are mutually exclusive: "
            "star edges all touch the bucket min regardless of label"
        )
    if bipartite is not None and collapse_exact and not content_keyed:
        # The label is evaluated once per distinct-text rep and inherited
        # by every member, which is correct ONLY for content-determined
        # labels (a pure function of text_col, e.g. text.hash_split). A
        # row-identity label (source column, doc id parity, ...) would
        # silently mislabel collapsed members and drop identity pairs —
        # require the caller to attest content-determinism explicitly
        # rather than documenting the trap (ADVICE r07).
        raise ValueError(
            "bipartite with collapse_exact=True requires content_keyed=True: "
            "the label must be a pure function of the text column (e.g. "
            "text.hash_split) so exact-duplicate members inherit their "
            "rep's label correctly; pass collapse_exact=False for "
            "row-identity labels"
        )

    src, band_src, band_cols, members = _lsh_signed_source(
        df, text_col, id_col, n, num_hashes, collapse_exact, bipartite,
        sig_source, bipartite_col, members,
    )
    banded = _lsh_bands(band_src, band_cols, bands, num_hashes // bands)
    audit = _lsh_cap_audit(
        banded, band_cols, candidate_scope, max_bucket, stats is not None
    )
    sized, cand = _lsh_candidates(
        banded, band_cols, candidate_scope, audit.effective_max_bucket
    )
    if stats is not None:
        # Probe instrumentation: the audit's numbers come from the job
        # that materialized the caches; only candidates_distinct costs a
        # probe-only pass.
        stats.update(audit._asdict(), candidates_distinct=cand.count())
    if verify == "grouped":
        verified = _lsh_verify_grouped(
            sized, band_src, band_cols, audit, bands, threshold, max_labels
        )
    else:
        verified = _lsh_verify_pairs(cand, src, threshold)
    if members is None:
        return verified
    # jaccard(S, S) = n/n, exactly 1.0 in IEEE — same value the
    # uncollapsed verify computes for an identical-text pair
    return _expand_member_pairs(
        verified,
        members,
        sized.select("id").distinct(),
        "jaccard",
        F.lit(1.0),
        include_within=not band_cols,
    )


def _lsh_signed_source(
    df, text_col, id_col, n, num_hashes, collapse_exact, bipartite,
    sig_source, bipartite_col, members,
) -> tuple[DataFrame, DataFrame, list[str], DataFrame | None]:
    """Stage 1 of minhash_lsh_pairs: ``(src, band_src, band_cols,
    members)`` — the signed frame (id, sh, mh0..), the frame banding
    reads (``src`` plus the cross-label contract's label as ``_lbl``),
    the label columns banding carries, and the member map (from the
    exact collapse, or the caller's in shared-signature mode)."""
    from pyspark import StorageLevel

    if sig_source is None:
        # Size the shuffle floor from the source scan BEFORE the first
        # wide stage — the exact-collapse groupBy and the eager member
        # count below are corpus-scale shuffles too (ADVICE r12: the old
        # placement below the collapse left them at the session default
        # at octave scale; canonical_keep_list/decontaminate_canonical_lsh
        # already floored before collapse, this entry did not).
        scale_partition_floor(df)
    if collapse_exact:
        df, members = _exact_text_collapse(df, text_col, id_col)
    # (id, label) projection for bipartite filtering. Taken AFTER collapse,
    # which is sound only for content-determined labels (e.g.
    # text.hash_split): identical texts share a label, so the rep's label
    # is every member's label. One row per doc, joined onto the one-row-
    # per-doc src frame pre-explode so the banded rows carry it for free.
    lbl = (
        df.select(F.col(id_col).alias("id"), bipartite.alias("_lbl"))
        if bipartite is not None
        else None
    )

    # One pass builds BOTH the verification hash set and the signature;
    # it feeds band generation and both verification sides. Persisted —
    # one row per doc, a sliver of corpus size at any scale. In shared
    # mode the caller owns sig_source's persistence (it is typically a
    # filter over one persisted signed frame feeding several passes).
    if sig_source is not None:
        # Fail fast on a mis-built shared frame (ADVICE r08): a sig_source
        # carrying MORE mh columns than num_hashes would silently band
        # over a subset (changed recall, no error), and a missing `sh`
        # column only surfaces deep in the verification join.
        cols = set(sig_source.columns)
        missing = {"id", "sh", *(f"mh{j}" for j in range(num_hashes))} - cols
        if missing:
            raise ValueError(
                f"sig_source is missing columns {sorted(missing)}; expected "
                f"the signature_sets schema for num_hashes={num_hashes}"
            )
        if f"mh{num_hashes}" in cols:
            raise ValueError(
                f"sig_source carries mh{num_hashes}+ columns — it was built "
                f"with more hashes than num_hashes={num_hashes}; banding "
                "over a subset would silently change recall"
            )
        src = sig_source
    else:
        src = signature_sets(df, text_col, id_col, n, num_hashes).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # (src is materialized transitively by banded's eager count in
        # the cap audit — banded derives from src, so one job measures
        # both caches)

    if lbl is not None:
        return src, src.join(lbl, "id"), ["_lbl"], members
    if bipartite_col is not None:
        # label already rides the signed frame — no join, no extra scan
        band_src = (
            src
            if bipartite_col == "_lbl"
            else src.withColumnRenamed(bipartite_col, "_lbl")
        )
        return src, band_src, ["_lbl"], members
    return src, src, [], members


def _lsh_bands(
    band_src: DataFrame, band_cols: list[str], bands: int, rows: int
) -> DataFrame:
    """Stage 2a: one persisted (id[, _lbl], band, bkey) row per document
    and band; bkey hashes the band's ``rows`` signature mins. It feeds
    bucket sizing and both self-join sides — 16 narrow rows per doc."""
    from pyspark import StorageLevel

    band_structs = [
        F.struct(
            F.lit(bid).alias("band"),
            F.xxhash64(*[F.col(f"mh{bid * rows + r}") for r in range(rows)]).alias(
                "bkey"
            ),
        )
        for bid in range(bands)
    ]
    return (
        band_src.select("id", *band_cols, F.explode(F.array(*band_structs)).alias("bb"))
        .select(
            "id",
            *band_cols,
            F.col("bb.band").alias("band"),
            F.col("bb.bkey").alias("bkey"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


class _CapAudit(NamedTuple):
    """What the cap audit measured and decided, named as the ``stats``
    probe reports it. bucket_join_work is the exact number of kept
    candidate emissions: sum C(bucket,2) for the all-pairs self-join, sum
    (bucket-1) for star's window-min edges, and for the bipartite
    block-split the CROSS-label pair count (r12; same-label pairs never
    leave the candidate join). On the explicit-cap fast path it and
    max_bucket_size are upper bounds and the dropped counts read 0."""

    bucket_join_work: int
    max_bucket_size: int
    dropped_buckets: int
    dropped_emissions: int
    effective_max_bucket: int | None
    banded_rows: int


def _lsh_cap_audit(
    banded: DataFrame,
    band_cols: list[str],
    candidate_scope: str,
    max_bucket: int | str | None,
    probed: bool,
) -> _CapAudit:
    """Stage 2b: the always-on bucket-size audit. Resolves
    ``max_bucket="auto"``, WARNs when a cap drops buckets, and bounds the
    flood policy and the packed reduction's indices (see
    minhash_lsh_pairs). ``probed``: a ``stats`` dict was passed, which
    always takes the full audit."""
    # Eager: the bucket self-join and the verify joins put cached
    # projections on join sides; MATERIALIZED InMemoryRelations report
    # MEASURED sizes, so static broadcast decisions over them are
    # size-sound at every SF instead of riding a Generate-collapsed
    # estimate (the r09 BroadcastOverGenerate class). One job
    # materializes banded AND src (its parent cache) — and since that job
    # has to scan every banded row anyway, it doubles as the ALWAYS-ON
    # cap audit (VERDICT r10 #3), a bucket-size HISTOGRAM (r12): one
    # row per DISTINCT bucket size reaches the driver (bounded — a corpus
    # has far fewer distinct bucket sizes than buckets), which is enough
    # to (a) resolve max_bucket="auto" BEFORE enumeration, (b) compute
    # exactly what any cap discards, so a production caller (stats=None —
    # every boarded query and canonical pipeline) gets a WARN the moment
    # a cap bites instead of silent recall loss, and (c) bound the array
    # indices for the packed once-per-pair reduction.
    #
    # Fast path (VERDICT r12 #1): an EXPLICIT-int cap needs the histogram
    # only for (a) the cap-bite WARN, (b) the flood policy's kept-emission
    # count, (c) the packed reduction's index bound. When the worst-case
    # kept volume — every banded row in a bucket exactly at the cap,
    # banded_rows * (cap-1) / 2 emissions — already sits under the flood
    # ceiling, (b) is settled conservatively and (c) is bounded by the cap
    # itself, so the per-bucket + histogram aggregations are replaced by a
    # plain count (the same job that materializes the src/banded caches,
    # minus two aggregation stages and the collect). The trade, documented:
    # in this provably-under-ceiling regime a biting cap is not WARNed —
    # every corpus where a cap has ever measurably bitten (the 900x/2700x
    # octaves) exceeds the worst-case bound and takes the full audit.
    # "auto" resolution and stats= probes always take the full audit.
    if isinstance(max_bucket, int) and not probed:
        banded_rows = banded.count()
        worst_kept = banded_rows * (max_bucket - 1) // 2
        if worst_kept <= _AUDIT_SKIP_MAX_WORST:
            return _CapAudit(worst_kept, max_bucket, 0, 0, max_bucket, banded_rows)
    # Per-bucket emission work, CONTRACT-exact (r12): star emits c-1 edges,
    # all-pairs C(c,2), and the bipartite block-split only CROSS-label
    # pairs — C(c,2) minus the per-label within sums. Counting same-label
    # pairs that never leave the candidate join would both mis-budget
    # "auto" and overfire the flood guard (r11 ran the 900x bipartite
    # decon fine under the default env; its C(c,2) overcount would not
    # have). Work is carried DOUBLED (c*(c-1) is always even) so the
    # histogram stays integer; halved driver-side.
    if candidate_scope == "star":
        per_bucket = banded.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("count"),
            (2 * (F.count(F.lit(1)) - 1)).alias("w2"),
        )
    elif band_cols:
        _c = F.sum("lc")
        per_bucket = (
            banded.groupBy("band", "bkey", "_lbl")
            .agg(F.count(F.lit(1)).alias("lc"))
            .groupBy("band", "bkey")
            .agg(
                _c.alias("count"),
                (_c * (_c - 1) - F.sum(F.col("lc") * (F.col("lc") - 1))).alias(
                    "w2"
                ),
            )
        )
    else:
        _c = F.count(F.lit(1))
        per_bucket = banded.groupBy("band", "bkey").agg(
            _c.alias("count"), (_c * (_c - 1)).alias("w2")
        )
    hist = (
        per_bucket.groupBy("count")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("w2").alias("w2"))
        .collect()
    )
    sizes = sorted((int(r["count"]), int(r["nb"]), int(r["w2"])) for r in hist)
    banded_rows = sum(c * nb for c, nb, _ in sizes)
    total_work = sum(w2 for _, _, w2 in sizes) // 2
    if max_bucket == "auto":
        # Scale-free budget: allow up to _AUTO_WORK_PER_ROW candidate
        # emissions per banded row. Linear-in-corpus work (duplicate
        # families included — their members grow the denominator) stays
        # UNCAPPED, so the r11 2700x failure mode (fixed cap < family
        # size discards half the true merges) cannot happen under
        # defaults; only in-bucket quadratic growth past the budget —
        # boilerplate floods of mutually-DISSIMILAR docs — engages the
        # guard, at the largest cap whose kept volume fits the budget.
        budget = _AUTO_WORK_PER_ROW * banded_rows
        if total_work <= budget:
            eff_cap = None
        else:
            acc, eff_cap = 0, sizes[0][0] if sizes else 2
            for c, _nb, w2 in sizes:
                acc += w2 // 2
                if acc > budget:
                    break
                eff_cap = c
            _LOG.warning(
                "minhash_lsh_pairs: max_bucket='auto' engaged the skew "
                "guard at cap=%d — uncapped candidate volume %d emissions "
                "(%.1f per banded row) exceeds the budget of %.0f per "
                "banded row x %d rows. If this corpus's large buckets are "
                "TRUE duplicate families (not boilerplate collisions), "
                "pass max_bucket=None to keep them — grouped verification "
                "keeps uncapped floods executable (BENCH_SCALE.md r11)",
                eff_cap,
                total_work,
                total_work / max(banded_rows, 1),
                _AUTO_WORK_PER_ROW,
                banded_rows,
            )
    else:
        eff_cap = max_bucket  # int (hard cap) or None (uncapped)
    kept = [s for s in sizes if eff_cap is None or s[0] <= eff_cap]
    kept_work = sum(w2 for _, _, w2 in kept) // 2
    dropped_buckets = sum(
        nb for c, nb, _ in sizes if eff_cap is not None and c > eff_cap
    )
    if dropped_buckets > 0 and not isinstance(max_bucket, str):
        _LOG.warning(
            "minhash_lsh_pairs: max_bucket=%d dropped %d flooded bucket(s) "
            "= %d candidate emissions before verification. The output cost "
            "grows with duplicate multiplicity: measured 0%% of merges at "
            "300x, 0.5%% at 900x, but 50%% at 2700x — where true dup "
            "families outgrew the cap and the dropped buckets WERE the dup "
            "families (BENCH_SCALE.md cap-recall). Size max_bucket above "
            "the expected duplicate family size, or pass max_bucket=None / "
            "'auto' (grouped verification keeps the flood executable) if "
            "this corpus needs those pairs",
            eff_cap,
            dropped_buckets,
            total_work - kept_work,
        )
    return _CapAudit(
        kept_work,
        max((c for c, _, _ in kept), default=0),
        dropped_buckets,
        total_work - kept_work,
        eff_cap,
        banded_rows,
    )


def _lsh_candidates(
    banded: DataFrame,
    band_cols: list[str],
    candidate_scope: str,
    eff_cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Stage 3: ``(sized, cand)`` — the banded rows that survive the skew
    filter, with their bucket size ``bsz`` (star adds the bucket min
    ``bmin``), and the distinct candidate pairs (id_a < id_b) of the
    star / all-pairs / cross-label contract."""
    # Skew guard: drop degenerate buckets (e.g. identical boilerplate
    # signatures) that would go quadratic; at 100 TB this is the
    # difference between a bounded self-join and a runaway stage.
    # Sizing via a count window, not groupBy+join-back: the window's one
    # (band, bkey) exchange is exactly the partitioning the self-join
    # needs, so the filter is map-side relative to it — the agg+join
    # formulation re-scanned the banded frame twice and added a join
    # (measured 3x slower end-to-end at sf0.1).
    wb = Window.partitionBy("band", "bkey")
    if candidate_scope == "star":
        # Star edges: (bucket-min, member), n-1 per bucket, candidate
        # volume LINEAR in banded rows. The min rides the SAME window
        # exchange the size filter already pays — no self-join stage at
        # all. bmin < id always holds, so (id_a, id_b) ordering is free.
        sized = banded.withColumn("bsz", F.count(F.lit(1)).over(wb)).withColumn(
            "bmin", F.min("id").over(wb)
        )
        if eff_cap is not None:
            sized = sized.filter(F.col("bsz") <= eff_cap)
        cand = (
            sized.filter(F.col("id") != F.col("bmin"))
            .select(F.col("bmin").alias("id_a"), F.col("id").alias("id_b"))
            .distinct()
        )
        return sized, cand
    sized = banded.withColumn("bsz", F.count(F.lit(1)).over(wb))
    if eff_cap is not None:
        sized = sized.filter(F.col("bsz") <= eff_cap)
    banded_ok = sized.select("id", *band_cols, "band", "bkey")
    x, y = banded_ok.alias("x"), banded_ok.alias("y")
    join_cond = (
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bkey") == F.col("y.bkey"))
        & (F.col("x.id") < F.col("y.id"))
    )
    if band_cols:
        # Cross-label-only contract: same-label pairs never leave the
        # join, removing the within-label (e.g. train-train) share —
        # the quadratic bulk — before distinct.
        join_cond = join_cond & (F.col("x._lbl") != F.col("y._lbl"))
    cand = (
        x.join(y, join_cond)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return sized, cand


def _lsh_verify_pairs(
    cand: DataFrame, src: DataFrame, threshold: float
) -> DataFrame:
    """Stage 4, ``verify="pairs"``: exact verification on candidates only —
    each pair re-joins the two hash SETS and intersects them worker-side;
    no inverted index, no per-shingle rows."""
    pa = src.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    pb = src.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _lsh_verify_grouped(
    sized: DataFrame,
    band_src: DataFrame,
    band_cols: list[str],
    audit: _CapAudit,
    bands: int,
    threshold: float,
    max_labels: int | None,
) -> DataFrame:
    """Stage 4, ``verify="grouped"``: per-BUCKET verification with
    once-per-pair Jaccard (see minhash_lsh_pairs), after the plan-time
    flood policy.

    Per-BUCKET grouped verification (VERDICT r09 #1) ships each bucket's
    c signature sets ONCE, not c² pair copies: members of buckets that
    can emit (2 <= bsz <= max_bucket) join their hash set by id — <=
    bands copies per doc, linear in corpus size — then ONE (band, bkey)
    aggregation materializes each bucket as a single row of id-sorted
    (id[, _lbl], sh) structs. Pair enumeration runs AFTER that shuffle,
    inside the bucket row: explode(sequence) + element_at keep the struct
    array a codegen variable (indexed, never copied — the r09 shingle
    pattern). Enumeration emits only NARROW (id_a, id_b, location) rows;
    a groupBy(id_a, id_b) reduces each pair to its MINIMUM co-occurring
    band, and a join back to the bucket rows on (band, bkey) — the
    aggregation's own partitioning, so only the narrow pair side
    shuffles — runs the exact Jaccard EXACTLY ONCE per distinct pair
    (VERDICT r10 #1)."""
    # Flood fail-fast (VERDICT r11 #5): the audit's kept emission count
    # IS the narrow candidate row count (upper bound for the bipartite
    # block-split, exact otherwise), known at PLAN time. On a
    # single-disk local box past _FLOOD_NARROW_ROWS the default lz4
    # shuffle codec ENOSPCs (r11: 2700x needed zstd to complete), and
    # spark.io.compression.codec is immutable after session start — so
    # abort NOW naming the exact knobs instead of dying 10 minutes in.
    # Clusters (non-local masters) only get the partition escalation:
    # shuffle partitions ARE runtime-settable, so size them to keep
    # each reduction task's hash table / sort run in memory and let
    # AQE coalesce everything smaller right back (gate/bench plans are
    # untouched — their volumes sit orders of magnitude below this).
    spark = sized.sparkSession
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    action = _flood_escalation(
        audit.bucket_join_work,
        spark.sparkContext.master,
        spark.conf.get("spark.io.compression.codec", "lz4"),
        cur,
    )
    if action is not None:
        kind, payload = action
        if kind == "abort":
            raise RuntimeError(payload)
        _raise_shuffle_partitions(spark, cur, payload)
        _LOG.warning(
            "minhash_lsh_pairs: raising spark.sql.shuffle.partitions "
            "-> %d for a ~%d-row narrow verify shuffle (sticky for "
            "this session; AQE coalesces small partitions back)",
            payload,
            audit.bucket_join_work,
        )
    # The packed location needs band in bits 55..62 (bands <= 256) and
    # i, j in 27 bits each (max kept bucket < 2^27, known from the audit
    # histogram); outside that envelope the reduction takes the struct
    # min (see _min_location).
    packed = bands <= 256 and audit.max_bucket_size < (1 << 27)
    pool = sized.filter(F.col("bsz") >= 2)
    if band_cols:
        binary = max_labels is not None and max_labels <= 2
        return _grouped_cross_label(pool, band_src, binary, packed, threshold)
    return _grouped_label_free(pool, band_src, packed, threshold)


def _jaccard(sh_a: Column, sh_b: Column) -> Column:
    n_inter = F.size(F.array_intersect(sh_a, sh_b))
    return n_inter / (F.size(sh_a) + F.size(sh_b) - n_inter)


_IJ_MASK = (1 << 27) - 1


def _pack_loc(w: int) -> Column:
    """(band, w, i, j) bit-packed into one long: band in bits 55..62, w in
    bit 54, i in bits 27..53, j in bits 0..26 — band-first, so the min
    packed long is the min location."""
    return (
        F.shiftleft(F.col("band").cast("long"), 55)
        .bitwiseOR(F.lit(w << 54).cast("long"))
        .bitwiseOR(F.shiftleft(F.col("i").cast("long"), 27))
        .bitwiseOR(F.col("j").cast("long"))
    )


def _narrow_candidates(
    ex: DataFrame, ids: tuple[Column, Column], w: int, packed: bool
) -> DataFrame:
    """Narrow once-per-pair candidates from enumerated bucket rows: the
    pair's ids plus its location — the sh arrays stay in the bucket row.
    Location fields are band-first so the min location picks each pair's
    minimum co-occurring band; w names the block the indices address
    (0: i in da (or ds), j in db (or ds); 1: both in db) — within one
    band a pair occupies exactly one bucket and one block, so the
    location is unique per band."""
    if packed:
        return ex.select(*ids, _pack_loc(w).alias("p"), "bkey")
    return ex.select(
        *ids,
        F.struct("band", F.lit(w).alias("w"), "bkey", "i", "j").alias("loc"),
    )


def _min_location(narrow: DataFrame, packed: bool) -> DataFrame:
    """Each pair's minimum location, as (id_a, id_b, band, w, i, j, bkey).

    Packed (VERDICT r11 #2): min over a STRUCT compiles to SortAggregate
    (struct buffers aren't hash-agg mutable), which sorts the full narrow
    candidate stream — the dominant remaining cost at flood octaves
    (~1.3e9 rows at 2700x). min(packed) with min_by(bkey, packed) keeps
    BOTH aggregate buffers primitive, so the reduction compiles to
    HashAggregate with map-side partial combine — no sort, and the
    exchange carries ~distinct pairs per task instead of raw emissions.
    Value-identical to the struct min: within one (band, w) a pair
    occupies exactly one bucket and one (i, j), so bkey never tiebreaks
    and min(packed) selects the same row the lexicographic struct min
    does (pinned by test_once_per_pair_reduction_packed_is_hash_aggregable)."""
    if not packed:
        return (
            narrow.groupBy("id_a", "id_b")
            .agg(F.min("loc").alias("loc"))
            .select(
                "id_a",
                "id_b",
                *[
                    F.col(f"loc.{f}").alias(f)
                    for f in ("band", "w", "i", "j", "bkey")
                ],
            )
        )
    return (
        narrow.groupBy("id_a", "id_b")
        .agg(F.min("p").alias("p"), F.min_by("bkey", "p").alias("bkey"))
        .select(
            "id_a",
            "id_b",
            F.shiftright("p", 55).cast("int").alias("band"),
            F.shiftright("p", 54)
            .bitwiseAND(F.lit(1).cast("long"))
            .cast("int")
            .alias("w"),
            F.shiftright("p", 27)
            .bitwiseAND(F.lit(_IJ_MASK).cast("long"))
            .cast("int")
            .alias("i"),
            F.col("p")
            .bitwiseAND(F.lit(_IJ_MASK).cast("long"))
            .cast("int")
            .alias("j"),
            "bkey",
        )
    )


def _grouped_label_free(
    pool: DataFrame, src: DataFrame, packed: bool, threshold: float
) -> DataFrame:
    """Grouped verification of the all-pairs contract: each bucket row
    holds its id-sorted (id, sh) structs in ``ds``, so i < j gives
    id_a < id_b exactly like the self-join's x.id < y.id."""
    grouped = (
        pool.select("id", "band", "bkey")
        .join(src.select("id", "sh"), "id")
        .groupBy("band", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("id"), F.col("sh")))
            ).alias("ds")
        )
    )
    ex = grouped.select(
        "ds", "band", "bkey",
        F.explode(F.sequence(F.lit(1), F.size("ds") - 1)).alias("i"),
    ).select(
        "ds", "band", "bkey", "i",
        F.explode(F.sequence(F.col("i") + 1, F.size("ds"))).alias("j"),
    )
    a = F.element_at("ds", F.col("i"))
    b = F.element_at("ds", F.col("j"))
    ids = (a.getField("id").alias("id_a"), b.getField("id").alias("id_b"))
    best = _min_location(_narrow_candidates(ex, ids, 0, packed), packed).drop("w")
    # unhinted for the same 32g-OOM reason as the cross-label join
    # (AQE re-converts when safe)
    joined = best.join(grouped, ["band", "bkey"])
    return joined.select(
        "id_a", "id_b", _jaccard(a.getField("sh"), b.getField("sh")).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _grouped_cross_label(
    pool: DataFrame,
    band_src: DataFrame,
    binary: bool,
    packed: bool,
    threshold: float,
) -> DataFrame:
    """Grouped verification of the cross-label contract, BLOCK-SPLIT:
    each bucket splits into its min-label block ``da`` and the rest
    ``db``. ``binary``: the caller attested at most two labels."""
    # Two taxes the naive enumerate-all-pairs-and-guard shape pays and
    # pairs-mode never did (its join condition skips same-label pairs
    # inside the join): (1) label-PURE buckets — the undeduped side's
    # variant floods at the straddle octaves — ship their full
    # signature sets for zero possible output; (2) MIXED buckets
    # enumerate their same-label bulk (e.g. eval-eval pairs inside
    # a family bucket) only to null-guard it. Both die here:
    # the bucket's distinct-label count and MIN label ride the
    # SAME (band, bkey) window exchange the size filter pays,
    # pure buckets are pruned before the grouped shuffle, and the
    # aggregation splits each bucket into the min-label block
    # ``da`` vs the rest ``db`` (collect_list skips the
    # when-nulls), so enumeration is the pure cross product
    # da x db — every pair cross-label by construction, no guard.
    # Buckets with >2 distinct labels (impossible under a
    # max_labels=2 attestation; possible for arbitrary label
    # columns) additionally enumerate within the rest block under
    # the label guard — see the binary branch below.
    wb = Window.partitionBy("band", "bkey")
    pool = (
        pool.withColumn("_nl", F.size(F.collect_set("_lbl").over(wb)))
        .withColumn("_lbl0", F.min("_lbl").over(wb))
        .filter(F.col("_nl") >= 2)
        .select("id", "band", "bkey", "_nl", "_lbl0")
    )
    # _lbl rides src (sig_source mode) or joins on via lbl — in
    # both cases band_src carries it alongside sh
    sh_map = band_src.select("id", "_lbl", "sh")
    # array_sort is LOAD-BEARING, not cosmetic: collect_list's
    # element order over a shuffle is nondeterministic across
    # (re-)executions, and the once-per-pair shape evaluates this
    # aggregation TWICE — once for enumeration (which captures
    # array indices) and once on the verify join's bucket side
    # (which resolves them). Unsorted blocks let the two
    # evaluations disagree under contended shuffle fetches, so
    # element_at(da/db, i) dereferenced the WRONG doc's signature
    # set (caught at the 2700x octave: 440,089 vs 431,985
    # contaminated evals). Sorting by the unique leading id makes
    # both evaluations bit-identical. The label-free branch
    # was always sorted.
    grouped = (
        pool.join(sh_map, "id")
        .groupBy("band", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_lbl") == F.col("_lbl0"),
                        F.struct(F.col("id"), F.col("sh")),
                    )
                )
            ).alias("da"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_lbl") != F.col("_lbl0"),
                        F.struct(
                            F.col("id"), F.col("_lbl"), F.col("sh")
                        ),
                    )
                )
            ).alias("db"),
            # INVARIANT (ADVICE r11): every aggregate in this agg
            # must be DETERMINISTIC under shuffle re-execution —
            # the once shape evaluates `grouped` TWICE (index
            # capture + index resolution on the verify join's
            # bucket side), so any order-dependent column here
            # silently re-introduces the wrong-signature
            # dereference that array_sort above fixes. first(_nl)
            # is safe ONLY because _nl is bucket-CONSTANT (a
            # window over the same (band, bkey) key); do not add
            # first/any_value over non-constant columns.
            F.first("_nl").alias("nl"),
        )
    )

    def _ids(a, b):
        # pairs-mode orders ids via x.id < y.id in the self-join;
        # block membership doesn't follow id order, so order here
        return (
            F.least(a.getField("id"), b.getField("id")).alias("id_a"),
            F.greatest(a.getField("id"), b.getField("id")).alias("id_b"),
        )

    # Attested-binary label (the train/eval contracts): every
    # cross-label pair touches the min label, so the min x rest
    # cross product is COMPLETE and the within-rest branch never
    # builds. (An earlier shape re-aggregated that branch's own
    # subset instead — for binary labels its probe side is empty,
    # but the join still exchanged the full signed frame:
    # 78 -> 157s at the 300x octave. Plan-time skip is the only
    # formulation that pays literally nothing.) Unattested
    # labels: >2-label buckets additionally enumerate within the
    # rest block under the label guard, per-row gated by nl so
    # 2-label buckets emit NOTHING (explode of an empty array).
    # Rides the SAME aggregation — ReuseExchange shares the
    # shuffle; the second final-agg scan is the price of not
    # attesting.
    exc = grouped.select(
        "da", "db", "band", "bkey",
        F.explode(F.sequence(F.lit(1), F.size("da"))).alias("i"),
    ).select(
        "da", "db", "band", "bkey", "i",
        F.explode(F.sequence(F.lit(1), F.size("db"))).alias("j"),
    )
    a_c = F.element_at("da", F.col("i"))
    b_c = F.element_at("db", F.col("j"))
    narrow = _narrow_candidates(exc, _ids(a_c, b_c), 0, packed)
    if not binary:
        exd = grouped.select(
            "db", "band", "bkey",
            F.explode(
                F.when(
                    F.col("nl") > 2,
                    F.sequence(F.lit(1), F.size("db") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        ).select(
            "db", "band", "bkey", "i",
            F.explode(F.sequence(F.col("i") + 1, F.size("db"))).alias("j"),
        )
        a_d = F.element_at("db", F.col("i"))
        b_d = F.element_at("db", F.col("j"))
        ndf = exd.filter(a_d.getField("_lbl") != b_d.getField("_lbl"))
        narrow = narrow.unionByName(
            _narrow_candidates(ndf, _ids(a_d, b_d), 1, packed)
        )
    best = _min_location(narrow, packed)
    # (band, bkey) is the aggregation's own output
    # partitioning — only the narrow pair side exchanges. NO
    # static join hint: a forced shuffle_hash build of the
    # narrow pair side OOM'd a 32g heap at the 2700x octave
    # (~560 MB of hash map per task x 32 concurrent tasks —
    # SHJ builds cannot spill). Unhinted, the planner's
    # sort-merge is spillable at any scale, and AQE's
    # maxShuffledHashJoinLocalMapThreshold (set in
    # session.get_spark) converts back to the fast hash join
    # exactly when the MEASURED per-partition build fits.
    joined = best.join(grouped, ["band", "bkey"])
    sh_b = F.element_at("db", F.col("j")).getField("sh")
    if binary:
        sh_a = F.element_at("da", F.col("i")).getField("sh")
    else:
        sh_a = F.when(
            F.col("w") == 0,
            F.element_at("da", F.col("i")).getField("sh"),
        ).otherwise(F.element_at("db", F.col("i")).getField("sh"))
    return joined.select(
        "id_a", "id_b", _jaccard(sh_a, sh_b).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _observed_changed(obs, ck: DataFrame) -> int:
    """Convergence signal for one CC round, read from the checkpoint
    job's own observed metric — the observation rides the eager
    localCheckpoint's materialization job, so the old per-round
    ``filter(_changed).limit(1).count()`` action disappears entirely
    (r13; one fewer scheduled job per round, verified to fire on
    localCheckpoint in Spark 4.1). When the metric does not arrive
    (runtime.observed's bounded wait), fall back to that count over the
    materialized leaf, so the worst case is the pre-r13 behavior, never a
    hang. Returns nonzero iff any label changed."""
    vals = runtime.observed(obs)
    if vals is None:
        return ck.filter("_changed").limit(1).count()
    v = vals["chg"]
    return int(v) if v is not None else 0  # max over zero rows -> null


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint(eager=True)``
    frame. Unlike a persisted frame, a checkpointed one is NOT recomputable
    once its blocks are dropped (Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_
    FOUND) — so this is only safe on frames that are provably dead: no
    live DataFrame plan references them. ``DataFrame.unpersist()`` does
    NOT free these blocks (they live in the checkpointed RDD, not the
    cache manager), which is why connected_components previously leaked
    O(iterations) label frames per call until driver GC (ADVICE r07);
    the underlying RDD is reachable as the LogicalRDD leaf's ``rdd`` field.
    Best-effort: internal-API drift degrades to the old leak-until-GC
    behavior, never to an error."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: every doc gets the
    minimum reachable doc id as its cluster id (keep ``doc_id ==
    cluster_id`` to dedup a corpus).

    Min-label propagation WITH POINTER JUMPING: each iteration takes
    label(u) <- min(label(u), min over neighbors' labels, label(label(u))).
    The neighbor term is the standard large-graph CC join; the
    label-of-label term (one extra keyed join per iteration, state stays
    one row per node) halves every label chain, so convergence is
    O(log diameter) rounds instead of O(diameter) — the difference between
    6 and 25+ rounds on the chain-shaped graphs star-scope LSH candidates
    produce (same trick as GraphFrames' large-star/small-star and
    Hash-to-Min). The driver-side loop is inherent to iterative
    algorithms; each iteration's convergence check is an OBSERVED metric
    (max of the _changed flags) computed inside that round's checkpoint
    materialization job itself — zero extra scheduled jobs per round
    (r13; previously one limit(1) count per round).

    LINEAGE TRUNCATION is load-bearing, not hygiene: every iteration
    references the previous ``labels`` plan 2-3 times, so without
    truncation the ANALYZED plan tree grows ~3^iterations copies of the
    (often enormous — a full LSH pipeline) pair-source lineage, and the
    driver burns minutes canonicalizing it for cache lookup while the
    executors idle — r07 measured 5 iterations taking 372s on a 114k-node
    / 300k-edge graph, single driver core pegged, before this fix; 3.9s
    after. ``localCheckpoint(eager=True)`` materializes each round's
    labels (and the edge frame once) and swaps the plan for a LogicalRDD
    leaf, making per-iteration planning cost constant. On a multi-node
    cluster prefer reliable ``checkpoint()`` (set a checkpoint dir) if
    executor loss must be survivable mid-algorithm; the algorithm is
    restartable either way.
    """
    # localCheckpoint (not persist): materializes AND truncates lineage —
    # the pair-source plan (e.g. the whole LSH pipeline) must not be
    # re-referenced by every iteration's growing tree (see docstring).
    # LAZY local checkpoint (VERDICT r12 #1 — one fewer sequential job):
    # round 1's eager ck_labels materialization consumes every edge
    # partition through its groupBy, so the edge checkpoint completes
    # inside THAT job instead of paying its own scheduling round trip and
    # an extra read of the freshly-written blocks. Lineage truncation is
    # unchanged — the Dataset is LogicalRDD-rooted either way — and any
    # partition the first job somehow skipped is back-filled by Spark's
    # checkpoint finalization, so iterations 2+ always read blocks.
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round 1 folds the identity initialization: label(u) = u, so the
    # neighbor-min is just min(v) per u straight off the edge frame and the
    # pointer jump is a no-op — one groupBy + one left join against the id
    # list, no initial labels checkpoint, no self-joins. Rounds 2+ run the
    # general step below.
    first_nmin = edges.groupBy(F.col("u").alias("nu")).agg(
        F.min("v").alias("nmin")
    )
    from pyspark.sql import Observation

    obs1 = Observation()
    ck_labels = (
        ids.select(F.col(id_col).alias("u"))
        .join(first_nmin, F.col("u") == F.col("nu"), "left")
        .select(
            "u",
            F.least(F.col("u"), F.coalesce(F.col("nmin"), F.col("u"))).alias(
                "label"
            ),
        )
        .select("u", "label", (F.col("label") != F.col("u")).alias("_changed"))
        .observe(obs1, F.max(F.col("_changed").cast("int")).alias("chg"))
        .localCheckpoint(eager=True)
    )
    labels = ck_labels.select("u", "label")

    converged = _observed_changed(obs1, ck_labels) == 0
    iters = 1
    try:
        for _ in range(max_iter - 1):
            if converged:
                break
            iters += 1
            neighbor_min = (
                edges.join(labels, edges.v == labels.u)
                .groupBy(edges.u.alias("nu"))
                .agg(F.min("label").alias("nmin"))
            )
            stepped = labels.join(
                neighbor_min, labels.u == F.col("nu"), "left"
            ).select(
                "u",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("l1"),
            )
            # pointer jump: label(label(u)). Chains a->b->c->... halve each
            # round; labels are node ids, so the lookup is a keyed self-join
            # on the one-row-per-node label frame (l1 misses only when l1 is
            # already a root that lost its row — coalesce keeps it).
            jump = labels.select(
                F.col("u").alias("l1"), F.col("label").alias("l2")
            )
            # The convergence flag rides the checkpointed frame itself
            # (label != previous label) AND is read via an observed metric
            # computed inside the checkpoint's own materialization job
            # (r13) — the r07 shape re-joined new vs old labels on u (one
            # full extra shuffle join per iteration, ~40% of CC's wall,
            # VERDICT r07 #5); the r12 shape still paid one limit(1)
            # count job per round over the materialized leaf.
            obs_i = Observation()
            new_ck = (
                stepped.join(jump, "l1", "left")
                .select(
                    "u",
                    "_old",
                    F.least(
                        F.col("l1"), F.coalesce(F.col("l2"), F.col("l1"))
                    ).alias("label"),
                )
                .select(
                    "u",
                    "label",
                    (F.col("label") != F.col("_old")).alias("_changed"),
                )
                .observe(obs_i, F.max(F.col("_changed").cast("int")).alias("chg"))
                .localCheckpoint(eager=True)  # plan becomes a LogicalRDD leaf
            )
            changed = _observed_changed(obs_i, new_ck)
            # new_ck is eagerly materialized and the changed count is
            # done — the superseded labels frame is provably dead; free its
            # checkpoint blocks now instead of leaking O(iterations) frames
            # per call until driver GC (ADVICE r07)
            _free_local_checkpoint(ck_labels)
            ck_labels = new_ck
            labels = new_ck.select("u", "label")
            if changed == 0:
                converged = True
                break
    finally:
        # the returned labels frame is a self-contained LogicalRDD leaf —
        # the edge frame is dead once the loop exits (converged or raised)
        _free_local_checkpoint(edges)
    if stats is not None:
        stats["iterations"] = iters
    if not converged:
        # silent non-convergence would split one real component into
        # several clusters and keep duplicates — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations (component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))


@runtime.settle_on_exit()
def canonical_keep_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    pair_source=None,
    stats: dict | None = None,
) -> DataFrame:
    """Corpus-scale canonical dedup keep-list: exact collapse -> near-dup
    pair graph over DISTINCT texts only -> connected components -> ONE row
    per cluster ``(keep_id, n_members)``.

    This is the deployable 100 TB dedup contract (VERDICT r05 #4): output
    is documents-LINEAR, unlike the pair-emitting queries whose C(n,2)
    per-cluster emission is the contract-level quadratic term the scale
    ladder quarantined. The rep of each exact-dup group is its MIN member,
    so a component's min rep IS the min member over every doc in the
    component — ``cluster_id`` doubles as the keep id with no extra join.

    ``pair_source`` (reps -> (id_a, id_b, ...) frame) defaults to exact
    trigram Jaccard — deterministic, so the gate query carries a full
    recursive-CTE DuckDB oracle; at corpus scale pass a closure over
    ``minhash_lsh_pairs(collapse_exact=False)`` to keep candidate
    generation banded/bounded (recall then follows the LSH probability,
    which is why that shape is measured, not oracle-checked).
    """
    scale_partition_floor(df)
    reps, members = _exact_text_collapse(df, text_col, id_col)
    if pair_source is None:
        pairs = ngram_jaccard_pairs(reps, text_col, id_col, n, threshold)
    else:
        pairs = pair_source(reps)
    comp = connected_components(
        pairs, reps.select(F.col(id_col)), id_col=id_col, stats=stats
    )
    return (
        comp.join(members, comp[id_col] == members["rep"])
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("cluster_id").alias("keep_id"), "n_members")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document: each token votes ±1 on every bit of its
    xxhash64; the fingerprint takes the majority sign. Pure expression
    aggregation (bits x conditional sums), map-side combinable."""
    ex = _fanout_rebalance(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return votes.select("id", fp.alias("simhash"))


@runtime.settle_on_exit()
def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    collapse_exact: bool = True,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into `chunks` 16-bit
    chunks; any pair within Hamming distance < chunks must share a chunk,
    so candidates come from chunk-equality buckets (linear), then the exact
    Hamming filter runs on candidates only (bit_count(xor)).

    Recall guarantee requires max_hamming < chunks (pigeonhole); reject
    configurations that would silently miss pairs.

    ``collapse_exact`` (default on) mirrors minhash_lsh_pairs: identical
    texts have identical fingerprints, so the chunk self-join runs on
    distinct texts and verified pairs fan back out to members (within a
    group the distance is exactly 0). Without it, exact-dup clusters make
    candidates quadratic in cluster size — the 100x scale-proof measured
    6.8s -> 46s on 3.3x more data from exactly this.

    ``max_bucket`` (opt-in) drops chunk buckets holding more than that
    many DISTINCT fingerprints — a 16-bit chunk key space is only 65,536
    buckets, so at billions of documents every bucket is crowded and the
    pigeonhole join goes quadratic regardless of duplicate structure; at
    that scale cap the buckets (trading the recall guarantee for bounded
    work) or widen the fingerprint/chunks. The cap is never silent: pass
    ``stats`` (probe-only — it forces one count) to receive
    dropped_buckets / dropped_emissions, same contract as
    minhash_lsh_pairs (VERDICT r09 #2)."""
    if max_hamming >= chunks:
        raise ValueError(
            f"simhash_near_pairs requires max_hamming < chunks for full recall "
            f"(got max_hamming={max_hamming}, chunks={chunks}); "
            f"use chunks={max_hamming + 1} or more"
        )
    members = None
    if collapse_exact:
        df, members = _exact_text_collapse(df, text_col, id_col)
    fps = simhash(df, text_col, id_col)
    width = 64 // chunks
    chunk_cols = [
        F.shiftrightunsigned(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias(f"c{i}")
        for i in range(chunks)
    ]
    banded = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("chunk"), chunk_cols[i].alias("ckey"))
                    for i in range(chunks)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.chunk").alias("chunk"), F.col("bb.ckey").alias("ckey"))
    if max_bucket is not None:
        if stats is not None:
            # loud cap (VERDICT r09 #2): what did the cap discard?
            kept = F.col("count") <= max_bucket
            work = F.col("count") * (F.col("count") - 1) / 2
            bw = (
                banded.groupBy("chunk", "ckey")
                .count()
                .agg(
                    F.sum(F.when(kept, work)).alias("w"),
                    F.sum((~kept).cast("long")).alias("db"),
                    F.sum(F.when(~kept, work)).alias("de"),
                )
                .collect()[0]
            )
            stats["bucket_join_work"] = int(bw["w"] or 0)
            stats["dropped_buckets"] = int(bw["db"] or 0)
            stats["dropped_emissions"] = int(bw["de"] or 0)
        # same count-window shape as minhash_lsh_pairs: the sizing
        # exchange IS the self-join's partitioning
        from pyspark.sql import Window

        wb = Window.partitionBy("chunk", "ckey")
        banded = (
            banded.withColumn("bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    # Persist + eager count: both self-join sides reference banded (one
    # recompute saved), and a MATERIALIZED InMemoryRelation gives the
    # static planner measured stats for the corpus x chunks frame — no
    # Generate-collapsed estimate can broadcast it (the r09
    # BroadcastOverGenerate class). Same pool as the collapse's caches.
    banded = runtime.persist("collapse", banded, eager=True)
    x, y = banded.alias("x"), banded.alias("y")
    verified = (
        x.join(
            y,
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.ckey") == F.col("y.ckey"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    if members is None:
        return verified
    # bit_count yields int; keep the expanded column the same type
    return _expand_member_pairs(
        verified,
        members,
        banded.select("id").distinct(),
        "hamming",
        F.lit(0).cast("integer"),
    )


def boilerplate_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-span removal — the C4 "repeated
    three-sentence span" rule re-expressed for whitespace corpora: chop each
    normalized document into NON-overlapping ``span``-word spans, find spans
    that occur in >= ``min_docs`` distinct documents (boilerplate: headers,
    footers, license blocks, templated chrome), and rebuild each document
    with those spans dropped.

    Returns one row per document: ``(id, n_spans, n_dup_spans,
    dup_span_frac, clean_text)`` — the fraction doubles as a boilerplate
    score for filtering.

    Scale shape (the reason this survives 100 TB):
      * spans are derived with pure array ops inside the scan projection —
        the only shuffle is the groupBy that counts distinct docs per span,
        and that aggregation partial-combines map-side;
      * the heavy-span set (count >= min_docs) is a tiny fraction of the
        corpus by construction, so the join back is a BROADCAST hash join —
        the corpus-sized side never reshuffles;
      * span keys carry ``xxhash64(span_text)`` so the aggregation compares
        8-byte ints, not strings; at petabyte scale you would key on the
        hash alone (documented collision odds ~n^2/2^64) — here the text
        rides along so the gate is hash-collision-proof;
      * reassembly sorts each doc's surviving spans by position inside a
        single per-doc aggregate (array_sort over collect_list of structs)
        — no window, no second shuffle beyond the doc-keyed agg.

    Reference anchor: extends the corpus-hygiene family of
    fact_dim_merging.sh:282-413 (dup checks) from row-level to sub-document
    spans for training-data curation.
    """
    toks = tokens(text_col)
    n_spans = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span + 1, span)),
    )
    # fan-out first: the span build + explode is CPU-multiplying and this
    # frame is evaluated twice (heavy-set pass + join-back pass); on a
    # narrow small-corpus scan that was 2 x 17s at 4 tasks vs 2 x 3s at
    # core count (round-5 stage timing; pass-through on any wide scan)
    base = _fanout_rebalance(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(spans_arr).alias("span_idx", "span_text"),
    )
    heavy = (
        base.groupBy(F.xxhash64("span_text").alias("span_hash"), "span_text")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span_text", "n_docs")
    )
    # heavy (cross-doc duplicate spans) GROWS WITH THE CORPUS — at web
    # scale boilerplate is a constant fraction of all spans, so the
    # explicit broadcast this join used through r08 was a latent scale
    # bug of the same class as the r09 containment incident; a keyed
    # shuffled hash join is the shape (both sides already key on the span)
    joined = base.join(heavy.hint("shuffle_hash"), "span_text", "left")
    keep = F.when(
        F.col("n_docs").isNull(),
        F.struct(F.col("span_idx"), F.col("span_text")),
    )
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("n_docs").isNotNull().cast("long")).alias("n_dup_spans"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(keep)), lambda s: s["span_text"]
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias(
                "dup_span_frac"
            ),
            "clean_text",
        )
    )
