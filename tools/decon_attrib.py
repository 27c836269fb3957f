"""Stage/job attribution for decontaminate_canonical_lsh's bench-SF wall
(VERDICT r08 #4): split the pipeline at its natural seams and time each
prefix cumulatively (min-of-two, noop sink, solo box), plus count the
Spark JOBS each prefix schedules — the question is whether the ~8-9s
gate-SF wall is CC rounds, the two LSH band passes, or irreducible
job-scheduling constant, and the answer decides whether another plan
change can move it.

Prefixes (each includes everything before it, mirroring
operators/curation.py decontaminate_canonical_lsh):
  collapse+sign  -  exact-text collapse + shared signature build (+label)
  pass1-lsh      -  + star-scope train keep-pair banding & verification
  cc             -  + pointer-jumping connected components -> keep ids
  pass2-lsh      -  + bipartite kept∪eval banding & verification
  full           -  + rep-level report aggregation & member fan-out

Usage: python tools/decon_attrib.py [SF_DIR] (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import curation, dedup, text
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("decon-attrib")
    sc = spark.sparkContext
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    docs.count()  # warm scan

    n, num_hashes, bands, threshold, max_bucket, train_pct = (
        3, 64, 32, 0.2, 1000, 90,
    )

    def build_prefix(stop_at: str):
        """Re-derive the pipeline up to `stop_at`, returning a frame to
        materialize. Mirrors decontaminate_canonical_lsh exactly (same
        helper calls) so the timings attribute the real plan."""
        split = text.hash_split("text", train_pct)
        reps, members = dedup._exact_text_collapse(docs, "text", "doc_id")
        reps = curation._cache_persisted(reps)
        sig = curation._cache_persisted(
            dedup.signature_sets(reps, "text", "doc_id", n, num_hashes).join(
                reps.select(F.col("doc_id").alias("id"), split.alias("_lbl")),
                "id",
            )
        )
        if stop_at == "collapse+sign":
            return sig
        train_sig = sig.filter(F.col("_lbl") == "train")
        keep_pairs = dedup.minhash_lsh_pairs(
            None, n=n, num_hashes=num_hashes, bands=bands,
            threshold=threshold, max_bucket=max_bucket,
            collapse_exact=False, candidate_scope="star",
            sig_source=train_sig,
        )
        if stop_at == "pass1-lsh":
            return keep_pairs
        comp = dedup.connected_components(
            keep_pairs,
            train_sig.select(F.col("id").alias("doc_id")),
            id_col="doc_id",
        )
        kept_ids = comp.select(F.col("cluster_id").alias("id")).distinct()
        if stop_at == "cc":
            return kept_ids
        corpus_sig = curation._cache_persisted(
            sig.join(kept_ids, "id", "semi").unionByName(
                sig.filter(F.col("_lbl") == "eval")
            )
        )
        rep_pairs = dedup.minhash_lsh_pairs(
            None, n=n, num_hashes=num_hashes, bands=bands,
            threshold=threshold, max_bucket=max_bucket,
            collapse_exact=False, sig_source=corpus_sig,
            bipartite_col="_lbl",
        )
        if stop_at == "pass2-lsh":
            return rep_pairs
        raise ValueError(stop_at)

    def run(fn) -> tuple[float, int]:
        best, jobs_best = float("inf"), 0
        for _ in range(2):
            start_jobs = _job_count(sc)
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            jobs = _job_count(sc) - start_jobs
            spark.catalog.clearCache()
            if dt < best:
                best, jobs_best = dt, jobs
        return round(best, 2), jobs_best

    def _job_count(sc) -> int:
        # AppStatusStore job count via the REST-less status tracker: the
        # tracker only exposes known job ids, which is exactly a counter
        return len(sc.statusTracker().getJobIdsForGroup(None) or [])

    rows = []
    for stop in ("collapse+sign", "pass1-lsh", "cc", "pass2-lsh"):
        sec, jobs = run(lambda s=stop: build_prefix(s))
        rows.append({"prefix": stop, "sec": sec, "jobs": jobs})
        print(json.dumps(rows[-1]), flush=True)
    sec, jobs = run(lambda: curation.decontaminate_canonical_lsh(docs))
    rows.append({"prefix": "full", "sec": sec, "jobs": jobs})
    print(json.dumps(rows[-1]), flush=True)

    # deltas: each prefix minus the previous — the marginal stage cost
    prev_s, prev_j = 0.0, 0
    print("\n| stage (marginal) | sec | jobs |")
    print("|---|---:|---:|")
    for r in rows:
        print(
            f"| {r['prefix']} | {r['sec'] - prev_s:+.2f} "
            f"| {r['jobs'] - prev_j:+d} |"
        )
        prev_s, prev_j = r["sec"], r["jobs"]
    return 0


if __name__ == "__main__":
    sys.exit(main())
