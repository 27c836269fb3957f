"""The one-pass Type-2 merge against the six-branch form it replaced.

``scd.scd_merge`` runs Type 2 as one full outer join of the whole
dimension with the snapshot plus one ``explode``. The earlier form,
kept here only as the reference, joined the open rows and unioned six
branches over that join. Both are compared on seeded random inputs that
hold NULL keys, NULL attributes, closed history, keys found only in
closed rows and duplicate incoming keys, both exact copies and copies
with different attributes (both forms keep the same one, by
``scd._one_row_per_key``'s rule), and on a dimension with no attribute
columns.
"""

from __future__ import annotations

import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_etl_automation_spark import scd


def _six_branch_type2(current, incoming, keys, run_id):
    """The Type-2 branch of scd_merge before the one-pass rewrite."""
    keys = list(keys)
    incoming = scd._stamp_new(scd._one_row_per_key(incoming, keys), run_id)
    attrs = scd._attrs(incoming, keys)
    cur = current.alias("cur")
    inc = incoming.alias("inc")
    on = [F.col(f"cur.{k}") == F.col(f"inc.{k}") for k in keys]
    cur_open = cur.filter(F.col("record_status") == "1").withColumn(
        "_cur_present", F.lit(True)
    )
    cur_closed = current.filter(F.col("record_status") == "0")
    inc_marked = inc.withColumn("_inc_present", F.lit(True))
    joined = cur_open.join(inc_marked, on, "full_outer")
    cur_present = F.col("_cur_present").isNotNull()
    inc_present = F.col("_inc_present").isNotNull()
    is_match = cur_present & inc_present
    changed = is_match & scd._changed(attrs)
    keep_open = joined.filter(is_match & ~scd._changed(attrs)).select(
        *[F.col(f"cur.{c}").alias(c) for c in current.columns]
    )
    closed_now = joined.filter(changed).select(
        *[F.col(f"cur.{k}").alias(k) for k in keys],
        *[F.col(f"cur.{a}").alias(a) for a in attrs],
        F.col("cur.create_job_run_id").alias("create_job_run_id"),
        F.lit(run_id).cast("long").alias("update_job_run_id"),
        F.lit("0").alias("record_status"),
    )
    opened_now = joined.filter(changed).select(
        *[F.col(f"inc.{c}").alias(c) for c in incoming.columns]
    )
    brand_new = joined.filter(~cur_present).select(
        *[F.col(f"inc.{c}").alias(c) for c in incoming.columns]
    )
    disappeared = joined.filter(~inc_present).select(
        *[F.col(f"cur.{c}").alias(c) for c in current.columns]
    )
    return (
        cur_closed.unionByName(keep_open)
        .unionByName(disappeared)
        .unionByName(closed_now)
        .unionByName(opened_now)
        .unionByName(brand_new)
    )


# (key columns, attribute columns): attribute values come from tiny
# domains with NULLs, so matched rows are often unchanged
SHAPES = {
    "one_key": (["k"], ["seg", "amt"]),
    "two_keys": (["k", "k2"], ["seg"]),
    "no_attrs": (["k"], []),
}
_DDL = {"k": "long", "k2": "string", "seg": "string", "amt": "long"}
_DOMAIN = {
    "k": [None, *range(12)],
    "k2": [None, "x", "y"],
    "seg": [None, "A", "B"],
    "amt": [None, 1, 2],
}


def _frames(spark, rng, keys, attrs):
    pick = {c: (lambda c=c: rng.choice(_DOMAIN[c])) for c in keys + attrs}
    null_key = (None,) * len(keys)
    closed_only = (100, *["z"] * (len(keys) - 1))
    history = [
        (*closed_only, *[pick[a]() for a in attrs], 1, 2, "0"),
        (*null_key, *[pick[a]() for a in attrs], 1, 1, "1"),
    ]
    drawn = {tuple(pick[k]() for k in keys) for _ in range(16)}
    for key in sorted(drawn, key=repr):  # set order follows hash(None)
        # 0-2 closed versions, then an open one for most keys: the rest
        # exist only in closed rows
        for status in ["0"] * rng.randint(0, 2) + ["1"] * (rng.random() < 0.75):
            run = rng.randint(1, 3)
            history.append(
                (*key, *[pick[a]() for a in attrs], run, run + rng.randint(0, 1), status)
            )
    schema = ", ".join(
        [f"{c} {_DDL[c]}" for c in keys + attrs]
        + ["create_job_run_id long", "update_job_run_id long", "record_status string"]
    )
    current = spark.createDataFrame(history, schema)
    # One version per incoming key, then duplicates below. The snapshot
    # always holds the NULL key and the closed-only key.
    versions = {}
    for row in rng.sample(history, k=len(history) // 2) + [None] * 6:
        key = row[: len(keys)] if row else tuple(pick[k]() for k in keys)
        version = tuple(pick[a]() if rng.random() < 0.4 else None for a in attrs)
        if row and rng.random() < 0.5:
            version = row[len(keys) : len(keys) + len(attrs)]  # unchanged
        versions.setdefault(key, version)
    versions.setdefault(closed_only, tuple(pick[a]() for a in attrs))
    versions.setdefault(null_key, tuple(pick[a]() for a in attrs))
    snapshot = [(*key, *version) for key, version in versions.items()]
    snapshot += rng.sample(snapshot, k=3)  # exact duplicate incoming keys
    # ... and duplicates whose attributes differ
    for row in rng.sample(snapshot, k=3):
        snapshot.append((*row[: len(keys)], *[pick[a]() for a in attrs]))
    incoming = spark.createDataFrame(
        snapshot, ", ".join(f"{c} {_DDL[c]}" for c in keys + attrs)
    )
    return current, incoming


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("seed", [3, 11, 29])
def test_one_pass_matches_six_branch_reference(spark, shape, seed):
    keys, attrs = SHAPES[shape]
    rng = random.Random(f"{shape}-{seed}")
    current, incoming = _frames(spark, rng, keys, attrs)
    got = scd.scd_merge(current, incoming, keys, "2", run_id=4)
    want = _six_branch_type2(current, incoming, keys, run_id=4)
    assert got.columns == current.columns
    got_rows, want_rows = Counter(map(tuple, got.collect())), Counter(map(tuple, want.collect()))
    assert got_rows == want_rows
    # a closed-only key was re-inserted, and NULL-key rows passed through
    # from both sides
    status = current.columns.index("record_status")
    assert {r[status] for r in got_rows if r[0] == 100} == {"0", "1"}
    assert sum(n for r, n in got_rows.items() if None in r[: len(keys)]) >= 2


def test_type2_plan_has_one_join(spark):
    dim = scd.scd_merge(
        None, spark.createDataFrame([(1, "A"), (2, "B")], "k long, seg string"),
        ["k"], "2", 1,
    )
    merged = scd.scd_merge(
        dim, spark.createDataFrame([(2, "C"), (3, "N")], "k long, seg string"),
        ["k"], "2", 2,
    )
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    joins = [l for l in plan.splitlines() if re.match(r"^[\s:+\-]*Join ", l)]
    assert len(joins) == 1, plan
