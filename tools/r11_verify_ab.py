"""Same-day verify-mode A/B at an inflated octave (VERDICT r10 #1): runs
a canonical pipeline with an explicit verify mode so the r11 once-per-pair
grouped shape ("grouped") has same-host, same-day controls — the r10
per-band-recompute shape ("grouped_perband") and the r09 per-pair
verify-join shape ("pairs") — instead of cross-round citations. One
process per invocation (run solo: concurrent local[32] JVMs inflate
numbers 3-5x), min-of-N, same methodology as tools/dedup_ladder.py.

For QUERY=decon the mode is applied to pass 2 (the bipartite flood
contract — where the shapes diverge) via verify_contam, leaving pass 1's
star keep-list on its contract-aware default, so the A/B isolates the
bipartite kernel. MODE=default runs verify=None end to end (whatever the
shipping contract-aware fork picks). For QUERY=dedup the mode is the star
keep-list's verify directly.

Usage: python tools/r11_verify_ab.py DIR QUERY MODE [--runs 2]
         [--reduction packed|struct] [--max-bucket N|auto|none]
  QUERY in {dedup, decon}
  MODE  in {pairs, grouped, grouped_perband, default}

r12 flags: ``--reduction`` A/Bs the hash-aggregable packed once-per-pair
reduction (VERDICT r11 #2) against the r11 min(struct) SortAggregate
control; ``--max-bucket 1000`` reproduces the r11 pinned contract counts
(348,173 / 431,985) now that the library default is "auto".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir, query, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    runs = 2
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    # --reduction packed|struct (VERDICT r11 #2): A/B the hash-aggregable
    # once-per-pair reduction against the r11 min(struct) SortAggregate
    # control. Only meaningful for grouped/default modes.
    reduction = "packed"
    if "--reduction" in sys.argv:
        reduction = sys.argv[sys.argv.index("--reduction") + 1]
    # --max-bucket N|auto|none: r11's pinned octave rows (348,173 at 900x /
    # 431,985 at 2700x) are the max_bucket=1000 CONTRACT counts — pass
    # 1000 to compare against them now that the library default is "auto".
    max_bucket: object = "auto"
    if "--max-bucket" in sys.argv:
        raw = sys.argv[sys.argv.index("--max-bucket") + 1]
        max_bucket = None if raw == "none" else raw if raw == "auto" else int(raw)
    verify = None if mode == "default" else mode

    from kafka_etl_automation_spark.catalog import load_tables
    from kafka_etl_automation_spark.operators import curation, dedup
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("r11-verify-ab")
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]

    def run():
        if query == "dedup":
            return dedup.canonical_keep_list(
                docs,
                pair_source=lambda reps: dedup.minhash_lsh_pairs(
                    reps, n=3, num_hashes=64, bands=16, threshold=0.5,
                    collapse_exact=False, candidate_scope="star",
                    verify=verify, once_reduction=reduction,
                    max_bucket=max_bucket,
                ),
            ).count()
        return curation.decontaminate_canonical_lsh(
            docs, verify_contam=verify, once_reduction=reduction,
            max_bucket=max_bucket,
        ).count()

    walls, rows = [], None
    for _ in range(runs):
        t0 = time.time()
        rows = run()
        walls.append(round(time.time() - t0, 1))
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "control": f"{query}_verify_{mode}_{reduction}_mb{max_bucket}",
                "sf_dir": sf_dir,
                "rows": rows,
                "wall_sec": min(walls),
                "runs": walls,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
