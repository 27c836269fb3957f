"""Scale-extension operators registered as named queries with oracles.

The LLM-training-data-pipeline surface (project north star): deduplication,
similarity search, and text analysis over the ``documents``/``embeddings``
tables. Each deterministic operator carries a DuckDB oracle; the
probabilistic LSH variants register without oracles (driver runs rows-only
checks) and are instead covered by invariants in tests/.

Determinism notes mirror plans.registry: identical aliasing both sides,
sequential left-to-right folds for float work (DuckDB list_reduce matches
Spark F.aggregate: (0+p1)+p2+... == p1+p2+...), round(…,6) applied BEFORE
ranking so top-k membership is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_etl_automation_spark.catalog import load_tables
from kafka_etl_automation_spark.operators import components, dedup, partitioning, similarity, text
from kafka_etl_automation_spark.plans.registry import register

# DuckDB equivalent of dedup.normalized_text (Spark regexp_replace replaces
# all matches; DuckDB needs the 'g' flag).
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

# DuckDB equivalent of dedup.shingles(text, 3): 1-indexed trigram join over
# the token list, distinct, empty for docs shorter than 3 tokens.
_SHINGLES3 = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
    ELSE [] END)) AS sh
  FROM toks
)
"""


@register(
    "ext_exact_dedup",
    f"""SELECT md5({_NORM}) AS fingerprint,
               MIN(doc_id) AS canonical_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1""",
)
def ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over documents (operators.dedup.exact_dedup).
    Scale: one (fingerprint, id) shuffle; text never leaves the scan."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.exact_dedup(t["documents"])


@register(
    "ext_ngram_jaccard",
    _SHINGLES3
    + """, sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT i.id_a, i.id_b, i.n_inter,
             i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2""",
)
def ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs trigram Jaccard >= 0.2 via inverted-index self-join
    (operators.dedup.ngram_jaccard_pairs). Small-corpus baseline / verifier;
    the 100 TB path is ext_minhash_lsh."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.ngram_jaccard_pairs(t["documents"], n=3, threshold=0.2)


_CLUSTER_ORACLE = (
    _SHINGLES3
    + """, sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT i.id_a, i.id_b FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2),
      e AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      r AS (
        WITH RECURSIVE reach(u, v) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.u, e.v FROM reach JOIN e ON reach.v = e.u
        ) SELECT * FROM reach)
      SELECT u AS doc_id, MIN(v) AS cluster_id FROM r GROUP BY u"""
)


@register("ext_dedup_clusters", _CLUSTER_ORACLE)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering (operators.components.connected_components)
    over the exact trigram-Jaccard pair graph; cluster id = min reachable
    doc id (keep doc_id == cluster_id to dedup). Oracle computes
    the same components with a recursive CTE."""
    t = load_tables(spark, sf_dir, names=("documents",))
    docs = t["documents"]
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return components.connected_components(
        pairs, docs.select(F.col("doc_id")), id_col="doc_id"
    )


# The canonical keep-list merges exact-duplicate TEXTS unconditionally
# (_exact_text_collapse runs before any shingling), while the shingle pair
# graph alone cannot connect duplicate texts shorter than n tokens (empty
# shingle sets). Add an explicit exact-text equality edge to the oracle's
# graph so both engines agree on that corner (ADVICE r06) — for >= n-token
# duplicates the edge is redundant (identical texts share shingle sets).
_E_CTE = """e AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),"""
_E_CTE_TEXT_EDGES = """e AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs
            UNION SELECT a.doc_id, b.doc_id FROM documents a
                  JOIN documents b
                  ON a.text = b.text AND a.doc_id <> b.doc_id),"""
# Explicit check, not an assert: under `python -O` an assert is stripped
# and a drifted _CLUSTER_ORACLE would make the .replace below a silent
# no-op, dropping the exact-text-edge fix from the oracle (ADVICE r07).
if _CLUSTER_ORACLE.count(_E_CTE) != 1:
    raise RuntimeError(
        "_CLUSTER_ORACLE drifted: expected exactly one _E_CTE occurrence "
        "to splice the exact-text edges into _CANONICAL_ORACLE"
    )
_CANONICAL_ORACLE = (
    "WITH comp AS ("
    + _CLUSTER_ORACLE.replace(_E_CTE, _E_CTE_TEXT_EDGES)
    + ") "
    "SELECT cluster_id AS keep_id, COUNT(*) AS n_members "
    "FROM comp GROUP BY 1"
)


@register("ext_dedup_canonical", _CANONICAL_ORACLE)
def ext_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale dedup HEADLINE (VERDICT r05 #4): documents ->
    canonical keep-list via collapse-first clustering
    (operators.dedup.canonical_keep_list) — one (keep_id, n_members) row
    per near-dup cluster, documents-linear output, vs the C(n,2) pair
    contract of ext_minhash_lsh. Oracle: the recursive-CTE reachability of
    ext_dedup_clusters — plus an exact-text equality edge, because the
    engine's collapse merges duplicate texts even when they are too short
    (< n tokens) to carry shingles — grouped per component."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.canonical_keep_list(t["documents"], n=3, threshold=0.2)


@register("ext_dedup_canonical_lsh")  # LSH recall -> rows-only check
def ext_dedup_canonical_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYABLE corpus-scale dedup pipeline end-to-end: collapse ->
    banded MinHash LSH candidates (exact-verified, threshold 0.5) ->
    connected components -> keep-list. candidate_scope='star' keeps
    candidate generation LINEAR in banded rows ((bucket-min, member)
    edges off the size-filter window — no bucket self-join stage at all);
    star edges preserve components whenever dup families are star/clique-
    shaped, which with exact-collapse upstream they are, so with output
    documents-linear too this — not the pair-emitting ext_minhash_lsh —
    is the query a 100 TB corpus dedup actually ships; recall follows the
    LSH probability, hence rows-only (the exact twin ext_dedup_canonical
    carries the oracle at gate SF; the recall floor vs that twin is
    pinned by tests/test_operators.py::test_lsh_recall_floors)."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.canonical_keep_list(
        t["documents"],
        pair_source=lambda reps: dedup.minhash_lsh_pairs(
            reps, n=3, num_hashes=64, bands=16, threshold=0.5,
            collapse_exact=False, candidate_scope="star",
            # explicit pin (r12): library default is max_bucket="auto";
            # boarded queries keep the cap the cross-round determinism
            # counts were measured under (2700x keep 6,795,593 etc.)
            max_bucket=1000,
        ),
    )


@register("ext_minhash_lsh")  # probabilistic recall -> rows-only check
def ext_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified
    (operators.dedup.minhash_lsh_pairs). Precision invariant (every output
    pair truly >= threshold) is asserted against ext_ngram_jaccard in
    tests/test_operators.py; recall is probabilistic, hence no SQL oracle."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.minhash_lsh_pairs(
        t["documents"], n=3, num_hashes=64, bands=16, threshold=0.5,
        max_bucket=1000,  # explicit determinism pin (r12); default is "auto"
    )


@register("ext_simhash_pairs")  # xxhash64 fingerprints -> rows-only check
def ext_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole chunk banding
    (operators.dedup.simhash_near_pairs); Hamming <= 3 over 4 chunks."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.simhash_near_pairs(t["documents"], max_hamming=3, chunks=4)


_STOPS = "['the', 'a', 'of', 'and', 'in', 'to']"

_TEXT_STATS_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, text, {_NORM} AS nt, string_split({_NORM}, ' ') AS t
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_unique_tokens,
       len(list_distinct(t)) / len(t) AS unique_ratio,
       length(replace(nt, ' ', '')) / len(t) AS avg_token_len,
       len(list_filter(t, x -> list_contains({_STOPS}, x))) / len(t)
         AS stopword_ratio
FROM tk
"""


@register("ext_text_stats", _TEXT_STATS_ORACLE)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (operators.text.text_stats): one
    projection pass, no shuffle at any scale."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.text_stats(t["documents"])


@register(
    "ext_quality_score",
    f"""WITH tk AS (
          SELECT doc_id, {_NORM} AS nt, string_split({_NORM}, ' ') AS t
          FROM documents
        ), st AS (
          SELECT doc_id,
                 len(t) AS n_tokens,
                 len(list_distinct(t)) / len(t) AS unique_ratio,
                 len(list_filter(t, x -> list_contains({_STOPS}, x))) / len(t)
                   AS stopword_ratio
          FROM tk)
        SELECT doc_id, n_tokens,
               round(least(n_tokens / 100.0, 1.0) * 0.4
                     + unique_ratio * 0.3
                     + least(stopword_ratio * 5.0, 1.0) * 0.3, 6) AS quality
        FROM st""",
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (operators.text.quality_score) — the cheap
    pre-filter in front of model-based classifiers."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.quality_score(t["documents"])


@register(
    "ext_fingerprint",
    f"SELECT doc_id, md5({_NORM}) AS fp_md5 FROM documents",
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (operators.text.fingerprint), md5 projection —
    the xxhash64 twin has no DuckDB equivalent and is covered by a
    determinism test in tests/ instead."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.fingerprint(t["documents"]).select("doc_id", "fp_md5")


# lang_id argmax, iteration order sorted(LANG_MARKERS) = de,en,es,fr; later
# languages replace only on strict >, so the FIRST language hitting the max
# wins ties — encoded as the CASE order below.
_LANG_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), sc AS (
  SELECT doc_id,
         len(list_filter(t, x -> list_contains(['der','die','und','ein'], x))) AS s_de,
         len(list_filter(t, x -> list_contains(['the','a','of','and'], x))) AS s_en,
         len(list_filter(t, x -> list_contains(['el','los','y','una'], x))) AS s_es,
         len(list_filter(t, x -> list_contains(['le','la','et','un'], x))) AS s_fr
  FROM tk)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM sc
"""


@register("ext_lang_id", _LANG_ORACLE)
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic marker-word language ID (operators.text.lang_id).
    Fanned out to core count: the scoring projection is CPU-bound and a
    small corpus scans narrow (round-5 stage attribution)."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return partitioning.fan_out(t["documents"]).select(
        "doc_id", text.lang_id("text").alias("lang_pred")
    )


# Cosine top-k: queries = vectors with vec_id < 8. Same sequential fold and
# round-before-rank on both engines.
_DOT = "list_reduce([a.e[i] * q.e[i] FOR i IN range(1, len(a.e)+1)], (x,y) -> x+y)"
_NRM_A = "sqrt(list_reduce([a.e[i] * a.e[i] FOR i IN range(1, len(a.e)+1)], (x,y) -> x+y))"
_NRM_Q = "sqrt(list_reduce([q.e[i] * q.e[i] FOR i IN range(1, len(q.e)+1)], (x,y) -> x+y))"

_COSINE_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round({_DOT} / ({_NRM_A} * {_NRM_Q}), 6) AS cosine
  FROM v a JOIN v q ON q.vec_id < 8 AND a.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@register("ext_cosine_topk", _COSINE_ORACLE)
def ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 (operators.similarity.cosine_topk):
    broadcast query side, big side streams once with no shuffle."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries, k=5)


_KNN_LABEL_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
           FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round({_DOT} / ({_NRM_A} * {_NRM_Q}), 6) AS cosine
  FROM v a JOIN v q ON q.vec_id < 8 AND a.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT r.query_id, q.label AS query_label,
       COUNT(*) AS n_neighbors,
       CAST(SUM(CASE WHEN a.label = q.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_label,
       round(1.0 * SUM(CASE WHEN a.label = q.label THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS agreement
FROM ranked r
JOIN v q ON q.vec_id = r.query_id
JOIN v a ON a.vec_id = r.neighbor_id
WHERE r.rank <= 5
GROUP BY r.query_id, q.label
"""


@register("ext_knn_label_agreement", _KNN_LABEL_ORACLE)
def ext_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality metric: fraction of each query's exact top-5
    cosine neighbors sharing the query's class label — the standard k-NN
    probe for "do embeddings cluster by label". Composition: cosine_topk
    (broadcast query side, no shuffle of the corpus) + one keyed join to
    the (id, label) projection + a per-query aggregation; the corpus-sized
    label join is keyed on neighbor id, never a cross product."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = similarity.cosine_topk(emb, queries, k=5)
    nl = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    ql = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("query_label"))
    same = F.when(F.col("n_label") == F.col("query_label"), 1).otherwise(0)
    return (
        topk.join(nl, "neighbor_id")
        .join(F.broadcast(ql), "query_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(same).alias("n_same_label"),
        )
        .withColumn(
            "agreement",
            F.round(F.col("n_same_label") / F.col("n_neighbors"), 6),
        )
    )


def _ddot(x: str, y: str) -> str:
    return (
        f"list_reduce([{x}[i] * {y}[i] FOR i IN range(1, len({x})+1)],"
        " (p, q) -> p + q)"
    )


def _dnrm(x: str) -> str:
    return f"sqrt({_ddot(x, x)})"


_NEAR_DUP_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_ddot('a.e', 'b.e')} / ({_dnrm('a.e')} * {_dnrm('b.e')}), 6)
         AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round({_ddot('a.e', 'b.e')} / ({_dnrm('a.e')} * {_dnrm('b.e')}), 6) >= 0.4
"""


@register("ext_embedding_near_dup", _NEAR_DUP_ORACLE)
def ext_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline
    (operators.similarity.embedding_near_dup_pairs) — the verifier for the
    LSH-bucketed scale path below."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    return similarity.embedding_near_dup_pairs(t["embeddings"], threshold=0.4)


@register("ext_lsh_embedding_near_dup")  # bucketed recall<1 -> rows-only
def ext_lsh_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at scale: hyperplane-LSH bucketed near-dup pairs with
    exact-cosine verification (operators.similarity.
    lsh_embedding_near_dup_pairs); precision invariant (output is a subset
    of ext_embedding_near_dup) asserted in tests."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    return similarity.lsh_embedding_near_dup_pairs(
        t["embeddings"], threshold=0.4, num_planes=6
    )


def _kmeans_assign_cte(cent: str, extra_where: str = "", crank: str = "= 1") -> str:
    """One Lloyd assignment step as SQL: broadcast-style argmax of round-6
    cosine against centroid CTE ``cent``, cell-id tiebreak — mirrors
    similarity._nearest_cells (k-means and IVF assignment) exactly."""
    return f"""(
  SELECT vec_id AS vid, e, cell FROM (
    SELECT v.vec_id, v.e, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round({_ddot('v.e', 'c.ce')}
                            / ({_dnrm('v.e')} * {_dnrm('c.ce')}), 6) DESC,
                      c.cell ASC) AS crank
    FROM v, {cent} c {extra_where}) WHERE crank {crank})"""


def _kmeans_update_cte(asg: str) -> str:
    """Lloyd update: element-wise mean via exact DECIMAL sums (order
    independent) rounded to 8 dp — same arithmetic as the Spark side."""
    return f"""(
  SELECT cell, list(cv ORDER BY pos) AS ce FROM (
    SELECT a.cell, t.i AS pos,
           round(CAST(SUM(CAST(v.e[t.i] AS DECIMAL(30,10))) AS DOUBLE)
                 / COUNT(*), 8) AS cv
    FROM v JOIN {asg} a ON v.vec_id = a.vid,
         UNNEST(range(1, len(v.e)+1)) AS t(i)
    GROUP BY a.cell, t.i) GROUP BY cell)"""


# IVF with real k-means centroids: 2 unrolled Lloyd iterations (assign ->
# decimal-mean update), then final cell assignment + 2-probe search. Every
# step is deterministic in both engines (see kmeans_centroids docstring),
# so the iterative algorithm still gets a full hash-matched oracle.
_IVF_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c0 AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < 16),
a0 AS {_kmeans_assign_cte('c0')},
c1 AS {_kmeans_update_cte('a0')},
a1 AS {_kmeans_assign_cte('c1')},
c2 AS {_kmeans_update_cte('a1')},
asg AS (
  SELECT vid AS neighbor_id, e, cell FROM {_kmeans_assign_cte('c2')} final_a),
qp AS (
  SELECT vid AS query_id, e AS qe, cell
  FROM {_kmeans_assign_cte('c2', 'WHERE v.vec_id < 8', '<= 2')} probe_a),
scored AS (
  SELECT qp.query_id, a.neighbor_id,
         round({_ddot('a.e', 'qp.qe')} / ({_dnrm('a.e')} * {_dnrm('qp.qe')}), 6)
           AS cosine
  FROM asg a JOIN qp ON a.cell = qp.cell AND a.neighbor_id <> qp.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# Semantic-dedup endgame: connected components over the embedding-cosine
# near-dup graph (exact pairs at the gate SF; at 100 TB the pair source
# swaps to the LSH-bucketed variant — identical downstream plan). Oracle:
# the same recursive-CTE reachability as ext_dedup_clusters over the
# cosine pair predicate.
_SEMANTIC_CLUSTER_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round({_ddot('a.e', 'b.e')} / ({_dnrm('a.e')} * {_dnrm('b.e')}), 6)
        >= 0.4),
e AS (SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
r AS (
  WITH RECURSIVE reach(u, v) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT reach.u, e.v FROM reach JOIN e ON reach.v = e.u
  ) SELECT * FROM reach)
SELECT u AS vec_id, MIN(v) AS cluster_id FROM r GROUP BY u
"""


@register("ext_semantic_clusters", _SEMANTIC_CLUSTER_ORACLE)
def ext_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup clusters: connected components
    (operators.components) over cosine>=0.4 near-dup pairs; cluster id =
    min reachable vec id (keep vec_id == cluster_id for the canonical set).
    Exact pair graph at gate SF; the deployable source is
    lsh_embedding_near_dup_pairs (same CC)."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    emb = t["embeddings"]
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4)
    return components.connected_components(
        pairs, emb.select(F.col("vec_id")), id_col="vec_id"
    )


@register("ext_ivf_topk", _IVF_ORACLE)
def ext_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (operators.similarity.ivf_topk) around real
    k-means centroids (similarity.kmeans_centroids, 2 deterministic Lloyd
    iterations), 2-probe search. The whole iterative construction is
    engine-reproducible -> full hash-matched oracle, unlike the
    probabilistic LSH variant."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = similarity.kmeans_centroids(emb, n_cells=16, iters=2)
    return similarity.ivf_topk(
        emb, queries, k=5, n_cells=16, n_probe=2, centroids=cent, dim=64
    )


def _kmeans_shift_cte(prev: str, cur: str) -> str:
    """Per-cell centroid shift between two Lloyd iterations: round-8
    Euclidean distance via the same left fold as the Spark zip_with/
    aggregate (list_reduce starts from the first element; Spark folds from
    0.0 — IEEE-identical since 0.0 + x == x)."""
    sq = (
        f"[({prev}.ce[i] - {cur}.ce[i]) * ({prev}.ce[i] - {cur}.ce[i])"
        f" FOR i IN range(1, len({prev}.ce)+1)]"
    )
    return f"""(
  SELECT round(sqrt(list_reduce({sq}, (p, q) -> p + q)), 8) AS shift
  FROM {prev} JOIN {cur} ON {prev}.cell = {cur}.cell)"""


def _kmeans_metric_sql(i: int, shifts: str) -> str:
    """One (iteration, max_shift, mean_shift) row; the mean goes through
    an exact decimal sum of the rounded shifts — order-independent in
    both engines, mirroring operators.similarity.kmeans_convergence."""
    return f"""
  SELECT {i} AS iteration, MAX(shift) AS max_shift,
         round(CAST(SUM(CAST(shift AS DECIMAL(18,8))) AS DOUBLE)
               / COUNT(*), 8) AS mean_shift
  FROM {shifts}"""


_KMEANS_CONVERGENCE_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c0 AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < 16),
a0 AS {_kmeans_assign_cte('c0')},
c1 AS {_kmeans_update_cte('a0')},
a1 AS {_kmeans_assign_cte('c1')},
c2 AS {_kmeans_update_cte('a1')},
s1 AS {_kmeans_shift_cte('c0', 'c1')},
s2 AS {_kmeans_shift_cte('c1', 'c2')}
{_kmeans_metric_sql(1, 's1')}
UNION ALL
{_kmeans_metric_sql(2, 's2')}
"""


@register("ext_kmeans_convergence", _KMEANS_CONVERGENCE_ORACLE)
def ext_kmeans_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-iteration Lloyd convergence metrics
    (operators.similarity.kmeans_convergence): one (iteration, max_shift,
    mean_shift) row per iteration on the real gate embeddings — the
    observable that tells a caller when ``iters`` was enough. Every step
    (assignment argmax, decimal-mean update, round-8 shift, decimal-mean
    metric) is engine-reproducible, so the iterative OBSERVABILITY path
    gets the same full hash-matched oracle as the IVF training it
    instruments."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    return similarity.kmeans_convergence(
        t["embeddings"], n_cells=16, iters=2
    )


_TOKEN_COUNT_ORACLE = f"""
WITH n AS (SELECT doc_id, {_NORM} AS nt FROM documents)
SELECT doc_id,
       len(string_split(nt, ' ')) AS n_tokens,
       len(string_split(trim(regexp_replace(regexp_replace(lower(nt),
           '([0-9]+|[^a-z0-9 ]+)', ' \\1 ', 'g'), ' +', ' ', 'g')), ' '))
         AS n_bpe_ish_tokens
FROM n
"""


@register("ext_token_counts", _TOKEN_COUNT_ORACLE)
def ext_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (operators.text): whitespace tokens and the
    BPE-ish pre-tokenizer estimate (regex split on letter/digit/punct
    transitions) — the budget signal for training-data curation. Fanned
    out to core count: two regex passes per document are CPU-bound and a
    small corpus scans narrow (round-5 stage attribution)."""
    t = load_tables(spark, sf_dir, names=("documents",))
    d = partitioning.fan_out(t["documents"])
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_ish_token_count("text").alias("n_bpe_ish_tokens"),
    )


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), seq AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM seq GROUP BY user_id, session_seq
"""


@register("ext_sessionize", _SESSION_ORACLE)
def ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form (operators.sessions.sessionize,
    30-minute gap) — lag -> boundary -> running-sum session ids, one
    user-keyed shuffle. The streaming twin (applyInPandasWithState) is
    exercised in tests/test_sessions.py."""
    from kafka_etl_automation_spark.operators import sessions

    t = load_tables(spark, sf_dir, names=("events",))
    out = sessions.sessionize(t["events"], gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        "session_start",
        "session_end",
        "n_events",
    )


_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users,
         round(1.0, 6) AS conversion
  UNION ALL
  SELECT 'view_click', (SELECT COUNT(*) FROM c),
         round(1.0 * (SELECT COUNT(*) FROM c)
               / NULLIF((SELECT COUNT(*) FROM v), 0), 6)
  UNION ALL
  SELECT 'view_click_purchase', (SELECT COUNT(*) FROM p),
         round(1.0 * (SELECT COUNT(*) FROM p)
               / NULLIF((SELECT COUNT(*) FROM v), 0), 6)
)
"""


@register("ext_funnel", _FUNNEL_ORACLE)
def ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click after first view ->
    purchase after that click): per-stage user counts + conversion vs the
    top of the funnel. Each stage is one user-keyed aggregation joined to
    the previous stage's first-event time — three keyed shuffles total,
    no window over the raw event stream; the single-row stage counts
    cross-combine driver-free (constant-size frames)."""
    t = load_tables(spark, sf_dir, names=("events",))
    ev = t["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("nv"))
    nc = c.agg(F.count(F.lit(1)).alias("nc"))
    np_ = p.agg(F.count(F.lit(1)).alias("np"))
    base = nv.crossJoin(nc).crossJoin(np_)  # three 1-row aggregate frames
    stage = F.explode(
        F.array(
            F.struct(
                F.lit("view").alias("stage"),
                F.col("nv").alias("n_users"),
                F.round(F.lit(1.0), 6).alias("conversion"),
            ),
            F.struct(
                F.lit("view_click").alias("stage"),
                F.col("nc").alias("n_users"),
                F.round(F.col("nc") / F.col("nv"), 6).alias("conversion"),
            ),
            F.struct(
                F.lit("view_click_purchase").alias("stage"),
                F.col("np").alias("n_users"),
                F.round(F.col("np") / F.col("nv"), 6).alias("conversion"),
            ),
        )
    )
    return base.select(stage.alias("s")).select(
        F.col("s.stage").alias("stage"),
        F.col("s.n_users").alias("n_users"),
        F.col("s.conversion").alias("conversion"),
    )


_COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT f.cohort_week,
       (CAST(floor(epoch(a.week)) AS BIGINT)
        - CAST(floor(epoch(f.cohort_week)) AS BIGINT)) // 604800
         AS weeks_since,
       COUNT(*) AS n_users
FROM active a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


@register("ext_cohort_retention", _COHORT_ORACLE)
def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week, counted
    in each later week they were active. Two user-keyed aggregations (first
    week per user; distinct user-weeks) and one keyed join — no window over
    raw events, so the plan is a pair of map-side-combinable shuffles at
    any corpus size. Week arithmetic is exact integer math on UTC epoch
    (both engines truncate to ISO Monday)."""
    t = load_tables(spark, sf_dir, names=("events",))
    ev = t["events"]
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    weeks_since = (
        (F.unix_timestamp("week") - F.unix_timestamp("cohort_week"))
        / F.lit(604800)
    ).cast("long")
    return (
        active.join(first_seen, "user_id")
        .groupBy("cohort_week", weeks_since.alias("weeks_since"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SLIDING_ORACLE = """
WITH starts AS (
  SELECT time_bucket(INTERVAL 15 MINUTES, ts)
           - s.k * INTERVAL 15 MINUTES AS window_start,
         value
  FROM events, UNNEST([0, 1, 2, 3]) AS s(k)
  WHERE ts >= time_bucket(INTERVAL 15 MINUTES, ts) - s.k * INTERVAL 15 MINUTES
    AND ts <  time_bucket(INTERVAL 15 MINUTES, ts) - s.k * INTERVAL 15 MINUTES
               + INTERVAL 60 MINUTES
)
SELECT window_start, window_start + INTERVAL 60 MINUTES AS window_end,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_value
FROM starts GROUP BY 1
"""


@register("ext_sliding_windows", _SLIDING_ORACLE)
def ext_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (sliding) event-time windows: 60-minute windows every
    15 minutes, so each event contributes to 4 windows — the smoothing
    shape tumbling windows can't express. Native `F.window(ts, 60m, 15m)`:
    Spark expands each row into its windows scan-side (an Expand of x4,
    no join), then one grouped aggregation; the oracle replays the same
    expansion with generate-series arithmetic."""
    t = load_tables(spark, sf_dir, names=("events",))
    return (
        t["events"]
        .groupBy(F.window("ts", "60 minutes", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # sum rides DECIMAL so the x4 Expand's partition-order-dependent
            # double accumulation can't flip the 6th decimal vs the oracle
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


_SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id)
                   >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), seq AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS s
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTES AS session_end,
       COUNT(*) AS n_events
FROM seq GROUP BY user_id, s
"""


@register("ext_session_window", _SESSION_WINDOW_ORACLE)
def ext_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session windows (`F.session_window`, the idiomatic
    twin of the hand-built operators.sessions.sessionize): groupBy(user,
    session_window(ts, 30m)) merges overlapping [ts, ts+gap) intervals in
    one aggregation — no lag/running-sum window pass at all. Native
    semantics close a session when the next event is >= gap away (vs the
    manual operator's strict >) and define session_end = last_ts + gap;
    the oracle mirrors both. Works identically in Structured Streaming
    (merging session state) — this row pins the batch semantics."""
    t = load_tables(spark, sf_dir, names=("events",))
    return (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


_ROLLING_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, n_events,
       CAST(SUM(n_events) OVER (
         PARTITION BY event_type
         ORDER BY CAST(floor(epoch(hour)) AS BIGINT)
         RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_24h_events
FROM hourly
"""


@register("ext_rolling_counts", _ROLLING_ORACLE)
def ext_rolling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate — the window-frame family
    ext_window_analytics (ROW frames) does not cover: per-type 24-hour
    rolling event counts over hourly buckets, where the frame is defined
    by an event-TIME distance (82800s = 23h back through the current
    hour), so missing hours shorten the window instead of silently
    widening it the way a ROWS frame would. One grouped count (map-side
    combinable) then one type-keyed window — two shuffles total, and the
    window input is |hours| x |types| rows regardless of corpus size."""
    t = load_tables(spark, sf_dir, names=("events",))
    ev = t["events"]
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("hour"))
        .rangeBetween(-23 * 3600, 0)
    )
    return hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.sum("n_events").over(w).alias("rolling_24h_events"),
    )


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
), spine AS (
  SELECT t.h AS hour FROM bounds, UNNEST(generate_series(lo, hi,
    INTERVAL 1 HOUR)) AS t(h)
), types AS (SELECT DISTINCT event_type FROM events),
actual AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT s.hour, ty.event_type,
       CAST(COALESCE(a.c, 0) AS BIGINT) AS n_events
FROM spine s CROSS JOIN types ty
LEFT JOIN actual a ON a.hour = s.hour AND a.event_type = ty.event_type
"""


@register("ext_gapfill", _GAPFILL_ORACLE)
def ext_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (the hypertable/gap-fill shape): hourly
    event counts per type INCLUDING zero-count hours, so downstream
    rolling metrics see a regular grid. The dense spine is GENERATED
    (sequence over the min/max hour from a one-row aggregate frame), never
    scanned: the only corpus-sized work is the grouped count; the spine x
    types cross join is |hours| x |types| rows regardless of corpus size,
    and the final join is keyed on (hour, type)."""
    t = load_tables(spark, sf_dir, names=("events",))
    ev = t["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        spine.crossJoin(F.broadcast(types))  # dense grid: |hours| x |types|
        .join(actual, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


_WINDOWED_ORACLE = """
SELECT time_bucket(INTERVAL 60 MINUTES, ts) AS window_start,
       time_bucket(INTERVAL 60 MINUTES, ts) + INTERVAL 60 MINUTES AS window_end,
       COUNT(*) AS n_events,
       round(SUM(value), 6) AS sum_value
FROM events GROUP BY 1
"""


@register("ext_windowed_counts", _WINDOWED_ORACLE)
def ext_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows, batch form (operators.sessions.
    windowed_counts). The watermarked streaming twin runs in
    tests/test_sessions.py with availableNow."""
    from kafka_etl_automation_spark.operators import sessions

    t = load_tables(spark, sf_dir, names=("events",))
    return sessions.windowed_counts(t["events"], window_minutes=60)


_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), g AS (
  SELECT doc_id,
         [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
           AS grams
  FROM toks WHERE len(t) >= 6
), h AS (
  SELECT doc_id,
         [CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT) FOR x IN grams]
           AS hs
  FROM g
), w AS (
  SELECT doc_id,
         list_distinct([list_min(hs[j:j+3]) FOR j IN range(1, len(hs) - 2)])
           AS mins
  FROM h WHERE len(hs) >= 4
)
SELECT doc_id, unnest(mins) AS fp FROM w
"""


@register("ext_winnowing", _WINNOW_ORACLE)
def ext_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (operators.text.
    winnowing_fingerprints, k=3 window=4) — local near-copy detection;
    md5-derived hashes make the oracle exact."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.winnowing_fingerprints(t["documents"], k=3, window=4)


_TOP_TERMS_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tk WHERE term <> ''
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n
), ranked AS (
  SELECT doc_id, term, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
"""


@register("ext_top_terms", _TOP_TERMS_ORACLE)
def ext_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (operators.text.top_terms) — the
    keyword extraction signal; round-before-rank keeps top-k membership
    engine-independent."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.top_terms(t["documents"], k=5)


@register(
    "ext_window_analytics",
    """WITH w AS (
         SELECT o_custkey, o_orderkey, o_totalprice,
                RANK() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
                LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                  AS prev_price,
                LEAD(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
                  AS next_price,
                NTILE(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice, o_orderkey) AS quartile
         FROM orders)
       SELECT * FROM w WHERE rnk <= 3""",
)
def ext_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window breadth beyond the reference's lone ROW_NUMBER:
    rank / lag / lead / ntile in one pass (a single o_custkey window
    shuffle serves all four — Spark reuses the partitioning across frames
    with compatible ordering)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, names=("orders",))
    o = t["orders"]
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_tile = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w_price).alias("rnk"),
            F.lag("o_totalprice").over(w_date).alias("prev_price"),
            F.lead("o_totalprice").over(w_date).alias("next_price"),
            F.ntile(4).over(w_tile).alias("quartile"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "ext_rollup",
    """SELECT o_orderpriority, o_orderstatus,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue
       FROM orders
       GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
)
def ext_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchies (priority -> status -> grand total) — subtotal
    levels the reference's Oracle SQL never used but any analytics consumer
    of this engine expects; one aggregation pass produces all levels."""
    t = load_tables(spark, sf_dir, names=("orders",))
    return (
        t["orders"]
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_GROUPING_SETS_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT)
         AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus), ())
"""


@register("ext_grouping_sets", _GROUPING_SETS_ORACLE)
def ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the cube lattice rollup can't express:
    per-status subtotals alongside per-priority ones). grouping_id
    disambiguates real NULL group values from subtotal rows — without it
    a NULL priority row and the all-priorities subtotal row collide.
    One aggregation pass; Spark expands the sets via Expand (each input
    row feeds every set), so cost is |sets| x scan with map-side combine —
    the same 100 TB shape as ext_rollup."""
    load_tables(spark, sf_dir, names=("orders",))
    return spark.sql(
        """SELECT o_orderpriority, o_orderstatus,
                  CAST(grouping(o_orderpriority) * 2
                       + grouping(o_orderstatus) AS BIGINT) AS gid,
                  COUNT(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue
           FROM orders
           GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                   (o_orderpriority), (o_orderstatus), ())"""
    )


_ASOF_ORACLE = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
     purch AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, l.ts,
       r.value AS last_purchase_value, r.ts AS matched_ts
FROM clicks l
ASOF LEFT JOIN purch r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@register("ext_asof_join", _ASOF_ORACLE)
def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each click gets the user's latest prior
    purchase (operators.joins.asof_join — union + carry-forward window,
    one user-keyed shuffle, no Python). Oracle is DuckDB's native ASOF
    JOIN — two independent implementations of the semantics."""
    from kafka_etl_automation_spark.operators import joins

    t = load_tables(spark, sf_dir, names=("events",))
    e = t["events"]
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return joins.asof_join(clicks, purchases, on="user_id", ts_col="ts")


@register(
    "ext_range_join",
    """WITH iv AS (SELECT DISTINCT p_size AS lo, p_size + 2 AS hi FROM part)
       SELECT iv.lo, iv.hi, COUNT(*) AS n_points
       FROM lineitem l JOIN iv
         ON l.l_quantity >= iv.lo AND l.l_quantity <= iv.hi
       GROUP BY iv.lo, iv.hi""",
)
def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join via bucketed candidates
    (operators.joins.range_join): quantities matched into [p_size,
    p_size+2] intervals with an equi-join on buckets + exact filter —
    never a nested loop. Oracle is the plain inequality join."""
    from kafka_etl_automation_spark.operators import joins

    t = load_tables(spark, sf_dir, names=("lineitem", "part"))
    points = t["lineitem"].select("l_quantity")
    intervals = (
        t["part"]
        .select(
            F.col("p_size").cast("double").alias("lo"),
            (F.col("p_size") + 2).cast("double").alias("hi"),
        )
        .distinct()
    )
    joined = joins.range_join(
        points, intervals, point_col="l_quantity", bucket_width=2.0
    )
    return joined.groupBy(
        F.col("lo").cast("int").alias("lo"), F.col("hi").cast("int").alias("hi")
    ).agg(F.count(F.lit(1)).alias("n_points"))


@register(
    "ext_quantiles",
    """SELECT o_orderpriority,
              quantile_cont(o_totalprice, 0.5) AS p50,
              quantile_cont(o_totalprice, 0.95) AS p95
       FROM orders GROUP BY o_orderpriority""",
)
def ext_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles: Spark ``percentile`` and DuckDB
    ``quantile_cont`` share linear interpolation, so the doubles
    hash-match bit-for-bit. Exact percentile sorts per group — at 100 TB
    switch to ``percentile_approx`` (t-digest sketch, map-side
    combinable); the exact form is the verifier."""
    t = load_tables(spark, sf_dir, names=("orders",))
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(F.expr("percentile(o_totalprice, array(0.5, 0.95))").alias("q"))
        .select(
            "o_orderpriority",
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p95"),
        )
    )


@register(
    "ext_redact",
    r"""SELECT doc_id,
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\d{6,}', '<NUM>', 'g') AS redacted
        FROM documents""",
)
def ext_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing tier (operators.text.redact): emails + long digit
    runs masked, one projection pass."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return t["documents"].select("doc_id", text.redact("text").alias("redacted"))


@register(
    "ext_hash_split",
    """WITH b AS (
         SELECT doc_id,
                CAST(('0x' || substring(md5(text), 1, 8))::BIGINT % 100
                     AS BIGINT) AS bucket
         FROM documents)
       SELECT CASE WHEN bucket < 90 THEN 'train' ELSE 'eval' END AS split,
              COUNT(*) AS n_docs
       FROM b GROUP BY 1""",
)
def ext_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed train/eval split
    (operators.text.hash_split): md5-bucketed so assignment survives
    repartitioning and re-crawls; counts per split checked vs oracle."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return (
        t["documents"]
        .select(text.hash_split("text", 90).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Gopher-rule repetition signals: duplicate-bigram fraction is a pure list
# projection; mode share via per-(doc,bigram) counts.
_REPETITION_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] || chr(31) || t[i+1] AS bg
  FROM tk, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), dup AS (
  SELECT doc_id,
         round(1.0 - len(list_distinct(list(bg))) / len(list(bg)), 6)
           AS dup_bigram_frac
  FROM bg GROUP BY doc_id
), cnt AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         round(MAX(c) / SUM(c), 6) AS mode_bigram_share
  FROM cnt GROUP BY doc_id)
SELECT agg.doc_id, agg.n_bigrams, dup.dup_bigram_frac, agg.mode_bigram_share
FROM agg JOIN dup ON agg.doc_id = dup.doc_id
"""


@register("ext_repetition", _REPETITION_ORACLE)
def ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition detection (operators.text.
    repetition_stats): duplicate-bigram fraction + mode-bigram share —
    the Gopher-style template/spam signal."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.repetition_stats(t["documents"])


# Per-source corpus-mix report: counts, token volume, mean quality by
# provenance — the domain-level curation view.
_SOURCE_MIX_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, source, {_NORM} AS nt, string_split({_NORM}, ' ') AS t
  FROM documents
), st AS (
  SELECT doc_id, source,
         len(t) AS n_tokens,
         len(list_distinct(t)) / len(t) AS unique_ratio,
         len(list_filter(t, x -> list_contains({_STOPS}, x))) / len(t)
           AS stopword_ratio
  FROM tk
), q AS (
  SELECT doc_id, source, n_tokens,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + unique_ratio * 0.3
               + least(stopword_ratio * 5.0, 1.0) * 0.3, 6) AS quality
  FROM st)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_quality
FROM q GROUP BY source
"""


@register("ext_source_mix", _SOURCE_MIX_ORACLE)
def ext_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-level corpus mix (counts / token volume / mean quality
    per source) — the domain-filtering dashboard every curation pipeline
    keeps; one keyed aggregation, decimal-exact means."""
    t = load_tables(spark, sf_dir, names=("documents",))
    scored = text.quality_score(t["documents"]).join(
        t["documents"].select("doc_id", "source"), "doc_id"
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )


# Corpus-relative bigram fluency: IEEE-exact int/int ratios, decimal-sum
# mean — the LM-perplexity-filter analog that stays engine-reproducible.
_BIGRAM_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tk, UNNEST(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
ratio AS (SELECT c2.w1, c2.w2, c2.c2 / c1.c1 AS r
          FROM c2 JOIN c1 ON c2.w1 = c1.w1)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       round(CAST(round(SUM(CAST(ratio.r AS DECIMAL(38,18))), 10) AS DOUBLE)
             / COUNT(*), 6) AS coherence
FROM bg JOIN ratio ON bg.w1 = ratio.w1 AND bg.w2 = ratio.w2
GROUP BY bg.doc_id
"""


@register("ext_bigram_coherence", _BIGRAM_ORACLE)
def ext_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative bigram fluency score (operators.text.
    bigram_coherence): avg P(w2|w1) per document — the deterministic
    LM-perplexity-filter analog; keyed joins only, no broadcast
    assumption on the bigram table."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return text.bigram_coherence(t["documents"])


_BUCKET = "('0x' || substring(md5(text), 1, 8))::BIGINT % 100"

_LANG_CASE = """
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END
"""

_STRATIFIED_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, text, string_split({_NORM}, ' ') AS t FROM documents
), st AS (
  SELECT doc_id, text,
         len(list_filter(t, x -> list_contains(['der','die','und','ein'], x))) AS s_de,
         len(list_filter(t, x -> list_contains(['the','a','of','and'], x))) AS s_en,
         len(list_filter(t, x -> list_contains(['el','los','y','una'], x))) AS s_es,
         len(list_filter(t, x -> list_contains(['le','la','et','un'], x))) AS s_fr
  FROM tk
), sc AS (SELECT doc_id, text, {_LANG_CASE} AS lang FROM st)
SELECT doc_id, lang FROM sc
WHERE {_BUCKET} < CASE lang WHEN 'en' THEN 50 WHEN 'und' THEN 100 ELSE 0 END
"""


@register("ext_stratified_sample", _STRATIFIED_ORACLE)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum corpus mixing (operators.curation.
    stratified_sample): downsample the majority language to 50%, keep all
    minority docs — content-keyed buckets, so the mix is reproducible and
    repartition-stable; pure filter, no shuffle."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    d = t["documents"].select(
        "doc_id", "text", text.lang_id("text").alias("lang")
    )
    return curation.stratified_sample(
        d, "lang", {"en": 0.5, "und": 1.0}, key_col="text"
    ).select("doc_id", "lang")


_TOKEN_BUDGET_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_NORM} AS nt, string_split({_NORM}, ' ') AS t FROM documents
), st AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_distinct(t)) / len(t) AS unique_ratio,
         len(list_filter(t, x -> list_contains({_STOPS}, x))) / len(t)
           AS stopword_ratio
  FROM tk
), q AS (
  SELECT doc_id, n_tokens,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + unique_ratio * 0.3
               + least(stopword_ratio * 5.0, 1.0) * 0.3, 6) AS quality
  FROM st
), w AS (
  SELECT doc_id, n_tokens, quality,
         SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM q)
SELECT doc_id, n_tokens, quality FROM w WHERE cum <= 10000
"""


@register("ext_token_budget", _TOKEN_BUDGET_ORACLE)
def ext_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy selection under a 10k-token budget (operators.
    curation.token_budget_select): two-pass cutoff design — per-quality
    ledger + boundary-stratum window — reproducing the oracle's global
    greedy EXACTLY without a corpus-wide sort window."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    scored = text.quality_score(t["documents"])
    return curation.token_budget_select(scored, budget=10_000)


_DECONTAM_ORACLE = (
    _SHINGLES3
    + f""", sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT i.id_a, i.id_b,
               i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2),
      sp AS (
        SELECT doc_id AS sid,
               CASE WHEN {_BUCKET} < 90 THEN 'train' ELSE 'eval' END AS split
        FROM documents),
      tagged AS (
        SELECT p.id_a, p.id_b, p.jaccard, a.split AS split_a, b.split AS split_b
        FROM pairs p
        JOIN sp a ON a.sid = p.id_a JOIN sp b ON b.sid = p.id_b
        WHERE a.split <> b.split),
      es AS (
        SELECT CASE WHEN split_a = 'eval' THEN id_a ELSE id_b END AS eval_doc_id,
               CASE WHEN split_a = 'eval' THEN id_b ELSE id_a END AS train_doc_id,
               jaccard
        FROM tagged)
      SELECT eval_doc_id,
             train_doc_id AS worst_train_match,
             MAX(jaccard) OVER (PARTITION BY eval_doc_id) AS max_jaccard,
             COUNT(*) OVER (PARTITION BY eval_doc_id) AS n_train_matches
      FROM es
      QUALIFY ROW_NUMBER() OVER (PARTITION BY eval_doc_id
                                 ORDER BY jaccard DESC, train_doc_id ASC) = 1"""
)


@register("ext_decontamination", _DECONTAM_ORACLE)
def ext_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (operators.curation.
    cross_split_contamination): eval docs near-duplicating any train doc
    (exact duplicates cannot cross a content-keyed split, so near-dups are
    the leak channel). Pair source here is the exact Jaccard verifier; at
    scale swap in minhash_lsh_pairs — identical downstream plan."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    docs = t["documents"]
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return curation.cross_split_contamination(docs, pairs)


@register("ext_decontamination_lsh")  # LSH recall -> rows-only check
def ext_decontamination_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYABLE decontamination shape: pair source is banded MinHash
    LSH (bounded candidate generation) instead of the exact shingle
    self-join of ext_decontamination, which is quadratic in shingle
    document-frequency and exists as the gate-SF verifier only. Banding is
    tuned for the 0.2 threshold (64 hashes / 32 bands -> r=2; band-match
    probability ~0.73 at j=0.2 vs ~0.03 for the r=4 dedup banding).
    Candidates are exact-verified inside minhash_lsh_pairs, so precision
    is exact and output is a subset of the oracle-checked twin — pinned by
    tests/test_operators.py::test_decontamination_lsh_subset_of_exact;
    recall follows the LSH probability, hence rows-only. ``bipartite``
    is the SAME content-keyed split the downstream filter uses (as the
    boolean "is eval"), so the
    within-split (train-train) share — the quadratic bulk of the bucket
    self-join — never leaves the candidate join; output-identical because
    cross_split_contamination discards same-split pairs anyway."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    docs = t["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=64, bands=32, threshold=0.2,
        bipartite=text.hash_split("text", 90) == "eval", content_keyed=True,
        max_bucket=1000,  # explicit determinism pin (r12); default is "auto"
    )
    return curation.cross_split_contamination(docs, pairs)


# Decontamination against the DEDUPLICATED train corpus: cluster the train
# split (recursive-CTE reachability over the exact pair graph + exact-text
# edges, exactly the ext_dedup_canonical oracle scoped to train), keep each
# cluster's min member, then run the exact cross-split check between the
# kept canonicals and eval.
_DECONTAM_CANONICAL_ORACLE = f"""
WITH sp0 AS (
  SELECT doc_id, text,
         CASE WHEN {_BUCKET} < 90 THEN 'train' ELSE 'eval' END AS split
  FROM documents
), tr AS (
  SELECT doc_id, text FROM sp0 WHERE split = 'train'
), ttoks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM tr
), tsh AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
    ELSE [] END)) AS sh
  FROM ttoks
), tsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY doc_id),
tinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM tsh a JOIN tsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
tpairs AS (
  SELECT i.id_a, i.id_b FROM tinter i
  JOIN tsizes sa ON sa.doc_id = i.id_a
  JOIN tsizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2),
te AS (SELECT id_a AS u, id_b AS v FROM tpairs
       UNION SELECT id_b, id_a FROM tpairs
       UNION SELECT a.doc_id, b.doc_id FROM tr a
             JOIN tr b ON a.text = b.text AND a.doc_id <> b.doc_id),
r AS (
  WITH RECURSIVE reach(u, v) AS (
    SELECT doc_id, doc_id FROM tr
    UNION
    SELECT reach.u, te.v FROM reach JOIN te ON reach.v = te.u
  ) SELECT * FROM reach),
keepids AS (
  SELECT DISTINCT MIN(v) AS doc_id FROM r GROUP BY u),
corpus AS (
  SELECT t.doc_id, t.text, 'train' AS split
  FROM tr t JOIN keepids k ON t.doc_id = k.doc_id
  UNION ALL
  SELECT doc_id, text, 'eval' FROM sp0 WHERE split = 'eval'),
ctoks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM corpus
), csh AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
    ELSE [] END)) AS sh
  FROM ctoks
), csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
cinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM csh a JOIN csh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
cpairs AS (
  SELECT i.id_a, i.id_b,
         i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
  FROM cinter i
  JOIN csizes sa ON sa.doc_id = i.id_a
  JOIN csizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2),
tagged AS (
  SELECT p.id_a, p.id_b, p.jaccard, a.split AS split_a, b.split AS split_b
  FROM cpairs p
  JOIN corpus a ON a.doc_id = p.id_a
  JOIN corpus b ON b.doc_id = p.id_b
  WHERE a.split <> b.split),
es AS (
  SELECT CASE WHEN split_a = 'eval' THEN id_a ELSE id_b END AS eval_doc_id,
         CASE WHEN split_a = 'eval' THEN id_b ELSE id_a END AS train_doc_id,
         jaccard
  FROM tagged)
SELECT eval_doc_id,
       train_doc_id AS worst_train_match,
       MAX(jaccard) OVER (PARTITION BY eval_doc_id) AS max_jaccard,
       COUNT(*) OVER (PARTITION BY eval_doc_id) AS n_train_matches
FROM es
QUALIFY ROW_NUMBER() OVER (PARTITION BY eval_doc_id
                           ORDER BY jaccard DESC, train_doc_id ASC) = 1
"""


@register("ext_decontamination_canonical", _DECONTAM_CANONICAL_ORACLE)
def ext_decontamination_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminate eval against the DEDUPLICATED train corpus
    (operators.curation.decontaminate_canonical): the train split collapses
    to its canonical keep-list first, then only the kept canonical docs are
    checked cross-split — n_train_matches becomes matched train CLUSTERS.
    This is the contract that stays documents-linear at corpus scale: the
    raw pair report (ext_decontamination_lsh) grows with train-dup-family x
    eval-dup-family in-bucket volume (measured super-linear at 300x),
    while the deduped train side has one doc per family by construction.
    Exact pair sources here (gate verifier, full SQL oracle); the LSH twin
    below is the deployable shape."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    return curation.decontaminate_canonical(t["documents"])


@register("ext_decontamination_canonical_lsh")  # LSH recall -> rows-only
def ext_decontamination_canonical_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployable decontaminate-against-deduped-corpus shape: star-scope
    banded LSH builds the train keep-list (candidates linear in banded
    rows), then bipartite banded LSH checks kept-train vs eval (within-split
    pairs never leave the candidate join). Both stages exact-verify their
    candidates, so every reported (eval, kept-train) match is a true
    >= threshold match — precision exact; recall follows the banding
    probability (64 hashes / 32 bands -> r=2 at threshold 0.2), hence
    rows-only here, with the floor vs the oracle-checked exact twin pinned
    by tests/test_operators.py::test_decontamination_canonical_invariants.
    Since r08 both passes share ONE signature build + collapse
    (curation.decontaminate_canonical_lsh): the corpus is signed once and
    each pass filters the signed frame, halving the fixed overhead the r07
    verdict flagged (#2) with output identical to the closure shape.

    Measured octave ceiling (r09, BENCH_SCALE.md): sublinear through 900x
    (4.5M docs); at 2700x on the adversarial dup-dense corpus the pass-2
    verify join's surviving in-bucket train x eval candidates reach 1.3e9
    (band-level probe) — dup families straddling the 0.2 threshold
    collide in the r=2 bands but fail verification AND survive the
    keep-list, so the per-pair contract grows with family multiplicity^2;
    canonicalization buys one octave over the raw pair report, not a
    complexity class. For corpora past that, the linear passage-leak
    contract (ext_ngram_overlap_decontamination / _bloom, value-verified
    at 2700x) is the deployable decontamination."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    return curation.decontaminate_canonical_lsh(
        t["documents"],
        max_bucket=1000,  # explicit determinism pin (r12); default is "auto"
    )


# Exact 8-gram containment decontamination (the published GPT-3/PaLM-style
# passage-overlap contract). Gram keys are md5-derived 60-bit ints — the
# same portable arithmetic in both engines, so the comparison is exact.
_NGRAM_OVERLAP_ORACLE = f"""
WITH sp AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t,
         CASE WHEN {_BUCKET} < 90 THEN 'train' ELSE 'eval' END AS split
  FROM documents
), sh AS (
  SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(t) >= 8
    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
          t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]
          FOR i IN range(1, len(t) - 6)]
    ELSE [] END)) AS sh
  FROM sp
), g AS (
  SELECT doc_id, split,
         ('0x' || substring(md5(sh), 1, 15))::BIGINT AS g
  FROM sh
), tg AS (
  SELECT DISTINCT g FROM g WHERE split = 'train'
)
SELECT ev.doc_id AS eval_doc_id,
       COUNT(*) AS n_grams,
       COUNT(tg.g) AS n_overlap,
       (COUNT(tg.g)::DOUBLE / COUNT(*)) AS overlap_frac
FROM (SELECT doc_id, g FROM g WHERE split = 'eval') ev
LEFT JOIN tg ON ev.g = tg.g
GROUP BY 1
HAVING COUNT(tg.g) >= 1
"""


@register("ext_ngram_overlap_decontamination", _NGRAM_OVERLAP_ORACLE)
def ext_ngram_overlap_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 8-gram containment decontamination (operators.curation.
    ngram_overlap_decontamination): an eval doc is contaminated if any of
    its word 8-grams appears verbatim anywhere in the train split — the
    passage-leak channel whole-document Jaccard misses. Fully deterministic
    and documents-linear (gram-set distinct + one keyed LEFT join, no pair
    enumeration), so unlike the Jaccard family's LSH twins this deployable
    shape carries its own full SQL oracle at ANY scale."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    return curation.ngram_overlap_decontamination(t["documents"])


@register("ext_ngram_overlap_decontamination_bloom")  # sketch -> rows-only
def ext_ngram_overlap_decontamination_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION shape of the containment check (operators.curation.
    ngram_overlap_decontamination_bloom): train-gram membership answered
    by a segment-sharded bloom filter (applyInPandas build + cogrouped
    vectorized probe) instead of the exact global gram distinct + keyed
    join — per-task state bounded by construction at any corpus size,
    which is the answer to the exact twin's single-node wall at the 2700x
    octave (BENCH_SCALE.md). No false negatives: the flagged set is a
    SUPERSET of the oracle-checked exact twin (pinned by
    tests/test_operators.py::test_ngram_overlap_bloom_superset); the FP
    side is the sketch's epsilon, hence rows-only here."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    return curation.ngram_overlap_decontamination_bloom(t["documents"])


# C4-style cross-document duplicate-span (boilerplate) removal: chop each
# doc into non-overlapping 5-word spans, spans present in >= 2 distinct
# docs are boilerplate, rebuild clean text from surviving spans in order.
_BOILERPLATE_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
), sp AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(t[(i*5+1):(i*5+5)], ' ') AS span_text
  FROM tk, UNNEST(range(0, CAST(ceil(len(t) / 5.0) AS BIGINT))) AS r(i)
), heavy AS (
  SELECT span_text FROM sp GROUP BY span_text
  HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT sp.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN h.span_text IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_spans,
       round(SUM(CASE WHEN h.span_text IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS dup_span_frac,
       COALESCE(string_agg(CASE WHEN h.span_text IS NULL THEN sp.span_text END,
                           ' ' ORDER BY sp.span_idx), '') AS clean_text
FROM sp LEFT JOIN heavy h ON sp.span_text = h.span_text
GROUP BY sp.doc_id
"""


@register("ext_boilerplate", _BOILERPLATE_ORACLE)
def ext_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span removal (operators.dedup.
    boilerplate_span_dedup) — the C4 repeated-span rule: spans shared by
    >= 2 distinct docs are dropped and each doc's clean_text rebuilt.
    Scale: one map-side-combinable span aggregation; the tiny heavy-span
    set broadcasts back, so the corpus never reshuffles."""
    t = load_tables(spark, sf_dir, names=("documents",))
    return dedup.boilerplate_span_dedup(t["documents"], span=5, min_docs=2)


# Composed curation pipeline: the same scoring/dedup/split expressions as
# the individual oracles above, chained the way a pretraining-data job
# runs them; QUALIFY keeps the canonical (min doc_id) copy per fingerprint.
_CURATION_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_NORM} AS nt, string_split({_NORM}, ' ') AS t, text
  FROM documents
), st AS (
  SELECT doc_id, nt, text,
         len(t) AS n_tokens,
         len(list_distinct(t)) / len(t) AS unique_ratio,
         len(list_filter(t, x -> list_contains({_STOPS}, x))) / len(t)
           AS stopword_ratio,
         len(list_filter(t, x -> list_contains(['der','die','und','ein'], x))) AS s_de,
         len(list_filter(t, x -> list_contains(['the','a','of','and'], x))) AS s_en,
         len(list_filter(t, x -> list_contains(['el','los','y','una'], x))) AS s_es,
         len(list_filter(t, x -> list_contains(['le','la','et','un'], x))) AS s_fr
  FROM tk
), sc AS (
  SELECT doc_id,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang,
         n_tokens,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + unique_ratio * 0.3
               + least(stopword_ratio * 5.0, 1.0) * 0.3, 6) AS quality,
         md5(nt) AS fingerprint,
         CASE WHEN ('0x' || substring(md5(text), 1, 8))::BIGINT % 100 < 90
              THEN 'train' ELSE 'eval' END AS split
  FROM st
), flt AS (
  SELECT * FROM sc
  WHERE quality >= 0.4 AND lang IN ('en') AND n_tokens BETWEEN 12 AND 100000
)
SELECT doc_id, lang, n_tokens, quality, split
FROM flt
QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint)
"""


@register("ext_curation_pipeline", _CURATION_ORACLE)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline (operators.curation.curate):
    quality/lang/token scoring -> filters -> exact dedup keep-canonical ->
    content-hash train/eval split, as ONE plan with a single
    fingerprint-keyed shuffle; raw text never survives the scan."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    return curation.curate(t["documents"])


@register(
    "ext_salted_agg",
    """SELECT o_custkey, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price,
              MAX(o_totalprice) AS max_price
       FROM orders GROUP BY o_custkey""",
)
def ext_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (operators.skew.salted_agg):
    partials on (key, salt) then merge on key. The oracle is the PLAIN
    aggregation — salting must be result-invariant, which is exactly what
    the hash check proves."""
    from kafka_etl_automation_spark.operators import skew

    t = load_tables(spark, sf_dir, names=("orders",))
    o = t["orders"].withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    out = skew.salted_aggregate(
        o,
        ["o_custkey"],
        {
            "n_orders": ("o_orderkey", "count"),
            "sum_price": ("price_dec", "sum"),
            "max_price": ("o_totalprice", "max"),
        },
        salt_col="o_orderkey",
        buckets=16,
    )
    return out.select(
        "o_custkey",
        "n_orders",
        F.col("sum_price").cast("double").alias("sum_price"),
        "max_price",
    )


@register("ext_lsh_cosine_topk")  # single-probe LSH: recall<1 -> rows-only
def ext_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via hyperplane-LSH bucketing
    (operators.similarity.lsh_cosine_topk); precision invariant (scores on
    returned pairs match brute force) asserted in tests/."""
    t = load_tables(spark, sf_dir, names=("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # 6 planes -> 64 buckets: dense enough at test SFs for buckets to hold
    # genuine neighbor candidates (10+ planes leaves singletons only).
    return similarity.lsh_cosine_topk(emb, queries, k=5, num_planes=6)


_SOURCE_CAP_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, source, string_split({_NORM}, ' ') AS t FROM documents
), st AS (
  SELECT doc_id, source,
         len(t) AS n_tokens,
         len(list_distinct(t)) / len(t) AS unique_ratio,
         len(list_filter(t, x -> list_contains({_STOPS}, x))) / len(t)
           AS stopword_ratio
  FROM tk
), q AS (
  SELECT doc_id, source, n_tokens,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + unique_ratio * 0.3
               + least(stopword_ratio * 5.0, 1.0) * 0.3, 6) AS quality
  FROM st
), r AS (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rn
  FROM q)
SELECT doc_id, source, quality FROM r
WHERE rn <= CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 10
                        ELSE 2147483647 END
"""


@register("ext_source_cap", _SOURCE_CAP_ORACLE)
def ext_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (operators.curation.source_cap): cap the
    two "heavy crawl" sources at their 10 best-quality documents, pass
    every other source through a broadcast anti-join untouched — the
    domain-mix rebalancing step of a pretraining pipeline. Only capped
    sources' rows ever enter the ranking window."""
    from kafka_etl_automation_spark.operators import curation

    t = load_tables(spark, sf_dir, names=("documents",))
    scored = text.quality_score(t["documents"]).join(
        t["documents"].select("doc_id", "source"), "doc_id"
    )
    return curation.source_cap(
        scored.select("doc_id", "source", "quality"),
        caps={"src0": 10, "src1": 10},
    )


_CDC_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0
), chg AS (
  SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_orderstatus,
         o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_custkey, 'X', o_totalprice * 2
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
), latest AS (
  SELECT * FROM chg
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1
)
SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
FROM base b ANTI JOIN latest l ON b.o_orderkey = l.o_orderkey
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM latest WHERE op <> 'D'
"""


@register("ext_cdc_apply", _CDC_ORACLE)
def ext_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (scd.cdc_apply): a deterministic I/U/D
    changelog derived from orders (inserts keys %3=0, upserting updates
    %5=0 with doubled price + status 'X', deletes %7=0, seq = change
    order) merged into the %3<>0 base snapshot. Overlapping keys exercise
    every last-writer path: insert-then-delete -> absent, update-then-
    delete -> absent, update-without-base -> upsert."""
    from kafka_etl_automation_spark import scd

    t = load_tables(spark, sf_dir, names=("orders",))
    o = t["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 3 != 0)
    chg = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.lit(1).alias("seq"),
            F.lit("I").alias("op"),
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 5 == 0).select(
                "o_orderkey",
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                "o_custkey",
                F.lit("X").alias("o_orderstatus"),
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                "o_orderkey",
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    return scd.cdc_apply(base, chg, ["o_orderkey"])


_INC_ROLLUP_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


@register("ext_incremental_rollup", _INC_ROLLUP_ORACLE)
def ext_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (transform.merge_aggregate_state):
    the daily (day, event_type) rollup is built as state-through-Jan-20
    MERGED WITH the Jan-21+ delta — never a full-history rescan — and the
    oracle recomputes over everything, proving merged == recompute. Sums
    ride DECIMAL so the merge is order-exact; AVG is intentionally
    unsupported (derive from sum/count)."""
    from kafka_etl_automation_spark import transform

    t = load_tables(spark, sf_dir, names=("events",))
    ev = t["events"]
    cutoff = F.lit("2024-01-21").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
            F.max("value").alias("max_value"),
        )

    prev = rollup(ev.filter(F.col("ts") < cutoff))
    delta = rollup(ev.filter(F.col("ts") >= cutoff))
    merged = transform.merge_aggregate_state(
        prev, delta, ["day", "event_type"],
        {"n_events": "count", "sum_value": "sum", "max_value": "max"},
    )
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    )


_CARDINALITY_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       TRUE AS sketch_within_5pct
FROM events GROUP BY event_type
"""


@register("ext_approx_cardinality", _CARDINALITY_ORACLE)
def ext_approx_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based cardinality: per event type, exact distinct users (the
    verifier — itself a keyed shuffle) alongside HLL++
    approx_count_distinct at rsd=0.01 (the 100 TB path: fixed-size sketch,
    map-side combinable, no distinct shuffle), asserting the sketch lands
    within 5%. HLL register-merge is order-insensitive, so the boolean is
    deterministic and the oracle pins it TRUE.

    Formulation (r13, guide §2.3 — shuffle fewer bytes): the obvious
    single groupBy mixing countDistinct with the HLL triggers Spark's
    distinct-aggregate rewrite, which plants the partial rsd=0.01 HLL
    buffer (~1,640 longs ≈ 13 KB) on EVERY (event_type, user_id) partial
    row — the exchange carried ~1 GB of sketch state for a 2 MB input
    (plans/r13/ext_approx_cardinality_before.txt operator (2): Results
    [1642]). The explicit two-level aggregate below is value-identical —
    n_events = sum of per-user counts, n_users = exact count of the
    pre-grouped (type, user) rows whose user is not NULL (the NULL user
    forms a group of its own, which COUNT(DISTINCT) skips), and an HLL
    fed each distinct user once has byte-identical registers (sketch
    inserts are idempotent) — while
    the exchange carries one narrow row per (type, user) and the sketch
    buffer exists only at the few-rows event_type level."""
    t = load_tables(spark, sf_dir, names=("events",))
    per_user = t["events"].groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    g = per_user.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.count("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
    )
    return g.select(
        "event_type",
        "n_events",
        "n_users",
        (
            F.abs(F.col("n_users_approx") - F.col("n_users"))
            <= F.col("n_users") * 0.05
        ).alias("sketch_within_5pct"),
    )


_PIVOT_ORACLE = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS n_click,
       COUNT(*) FILTER (event_type = 'view')     AS n_view,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       CAST(SUM(CAST(value AS DECIMAL(18,6)))
              FILTER (event_type = 'purchase') AS DOUBLE) AS purchase_value
FROM events GROUP BY user_id
"""


@register("ext_pivot", _PIVOT_ORACLE)
def ext_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-user event-type counts + purchase value
    via ``groupBy().pivot(values=...)``. The value list is EXPLICIT — an
    unpinned pivot runs a driver-side distinct scan to discover columns
    (two jobs) and makes the output schema data-dependent, both wrong at
    100 TB. Pinned pivot compiles to one pass of conditional aggregates,
    map-side combinable, identical to the oracle's FILTER form."""
    t = load_tables(spark, sf_dir, names=("events",))
    ev = t["events"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("val"),
        )
    )
    return wide.select(
        "user_id",
        F.coalesce("click_n", F.lit(0)).alias("n_click"),
        F.coalesce("view_n", F.lit(0)).alias("n_view"),
        F.coalesce("purchase_n", F.lit(0)).alias("n_purchase"),
        F.col("purchase_val").cast("double").alias("purchase_value"),
    )


_QSKETCH_ORACLE = """
SELECT event_type,
       quantile_cont(value, 0.5)  AS p50_exact,
       quantile_cont(value, 0.95) AS p95_exact,
       TRUE AS sketch_within_rank_eps
FROM events GROUP BY event_type
"""


@register("ext_quantile_sketch", _QSKETCH_ORACLE)
def ext_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles beside the exact verifier (the quantile member of
    the sketch family, next to ext_approx_cardinality's HLL): exact
    ``percentile`` (sorts per group — the verifier) alongside
    ``percentile_approx`` accuracy 10000 (Greenwald-Khanna summary, fixed
    size, map-side combinable — the 100 TB path), asserting the sketch's
    RANK error: the approx p-quantile must sit between the exact
    (p ± eps)-quantiles. That rank-bound is the sketch's actual contract
    (value distance is unbounded for skewed data), it holds for any merge
    order, and the oracle pins it TRUE.

    eps combines the GK guarantee (1/accuracy = 1e-4) with the
    discretization slack: percentile_approx returns a raw order statistic
    while exact percentile interpolates, so the band must be at least one
    inter-sample rank gap (~1/N) wide; 0.01 covers both with margin at
    every test SF while still being a meaningful 1%-rank contract."""
    t = load_tables(spark, sf_dir, names=("events",))
    eps = 0.01
    g = t["events"].groupBy("event_type").agg(
        F.expr(
            "percentile(value, array(0.5, 0.95, "
            f"{0.5 - eps}, {0.5 + eps}, {0.95 - eps}, {0.95 + eps}))"
        ).alias("ex"),
        F.expr("percentile_approx(value, array(0.5, 0.95), 10000)").alias("ap"),
    )
    in_bounds = (
        (F.col("ap")[0] >= F.col("ex")[2]) & (F.col("ap")[0] <= F.col("ex")[3])
        & (F.col("ap")[1] >= F.col("ex")[4]) & (F.col("ap")[1] <= F.col("ex")[5])
    )
    return g.select(
        "event_type",
        F.col("ex")[0].alias("p50_exact"),
        F.col("ex")[1].alias("p95_exact"),
        in_bounds.alias("sketch_within_rank_eps"),
    )
