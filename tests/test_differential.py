"""In-pytest differential checks: a fast subset of the DuckDB-oracle gate
at sf0.001, so `pytest tests/` alone catches oracle drift without the
driver harness. Full board: tools/check_correctness.py at sf0.01."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

from tests.conftest import SF_SMALL

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

FAST_SUBSET = [
    "flagship_dim_customer",
    "a3_pricing_summary",
    "a9_count_minus",
    "w1_latest_per_group",
    "e1_minus_symdiff",
    "f9_templated_query",
    "q1_count_check",
    "q3_dup_check",
    "ext_exact_dedup",
    "ext_dedup_canonical",
    "ext_text_stats",
    "ext_cosine_topk",
    "mm_frame_sample",
    # r04 additions: the ts-consuming operator the NTZ drift broke, plus
    # one row per new analytics family
    "ext_sessionize",
    "ext_funnel",
    "ext_cohort_retention",
    "ext_gapfill",
    "ext_session_window",
    "ext_grouping_sets",
    # the bounded stream gates, each run through lifecycle.run_bounded
    "stream_sessionize",
    "stream_windowed_counts",
    "stream_interval_join",
    "stream_dedup",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMALL}/{name}.parquet'"
        )
    return con


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]

    def cell(v):
        import pandas as pd

        if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
            return "<NULL>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        return str(v)

    return sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = qs[name](spark, SF_SMALL).toPandas()
    ddf = duck.execute(oracles[name]).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert canon(sdf) == canon(ddf)


# Queries chosen to cover every branch of the engine-hash canonicalization:
# doubles (%.17e), timestamps, duck DATE->datetime64, ints/strings/bools,
# NULL handling. The DECIMAL branch has no registered query (every oracle
# emits DOUBLE per the 2^53 rule) — test_engine_hash_digest_decimal_branch
# below pins it with a dedicated frame.
ENGINE_HASH_PIN = [
    "flagship_dim_customer",
    "a3_pricing_summary",
    "ext_sessionize",
    "ext_cohort_retention",
    "f5_timestamp_sanity",
    "p5_null_audit",
    "a8_listagg",
]


@pytest.mark.parametrize("name", ENGINE_HASH_PIN)
def test_engine_hash_digest_matches_python_reference(spark, duck, name):
    """VERDICT r05 #1 pin: the digest each ENGINE computes over its own
    result (tools/check_correctness.py --engine-hash) must equal the Python
    reference digest of that engine's materialized frame — proving the
    SQL-side canonicalization (printf %.17e, strftime, CAST AS STRING,
    NULL sentinel, md5 60-bit sum) is the same function on both sides.
    Together with the green pandas-mode board this makes a green
    engine-hash sweep at 100x equivalent to a full value verification."""
    import sys

    sys.path.insert(0, _TOOLS)
    import check_correctness as cc

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    duck.execute("SET TimeZone='UTC'")
    sdf_frame = qs[name](spark, SF_SMALL)
    sdig = cc.spark_engine_digest(sdf_frame)
    assert sdig is not None, "schema left the canonicalization contract"
    assert sdig == cc.engine_digest_pandas(sdf_frame.toPandas())
    ddig = cc.duck_engine_digest(duck, oracles[name])
    assert ddig is not None
    assert ddig == cc.engine_digest_pandas(duck.execute(oracles[name]).df())
    # and the two engines agree with each other (the gate's actual compare)
    assert sdig == ddig


_DECIMAL_PIN_SQL = """
    SELECT l_returnflag AS rf,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS sum_qty,
           CAST(-0.5 AS DECIMAL(6,2)) AS neg,
           CAST(NULL AS DECIMAL(8,3)) AS nulldec
    FROM lineitem GROUP BY l_returnflag
"""


def test_engine_hash_digest_decimal_branch(spark, duck):
    """ADVICE r06: the DECIMAL branch of the engine-hash canonicalization
    was unpinned — no registered oracle emits DECIMAL, and duck's .df()
    renders DECIMAL as float64, so the pandas-reference leg cannot be
    computed from .df() on that branch (engine CAST AS VARCHAR gives
    '1.50', %.17e of the float64 does not). Pin it with a dedicated
    decimal-emitting frame, identical SQL both engines; the duck reference
    frame is materialized via fetchall(), which preserves decimal.Decimal
    (str() of which equals the engine's VARCHAR cast, scale included)."""
    import sys

    import pandas as pd

    sys.path.insert(0, _TOOLS)
    import check_correctness as cc

    from kafka_etl_automation_spark.catalog import load_tables

    t = load_tables(spark, SF_SMALL, names=("lineitem",))
    t["lineitem"].createOrReplaceTempView("lineitem")
    sdf = spark.sql(_DECIMAL_PIN_SQL)
    from pyspark.sql import types as T

    assert any(
        isinstance(f.dataType, T.DecimalType) for f in sdf.schema.fields
    )
    sdig = cc.spark_engine_digest(sdf)
    assert sdig is not None
    assert sdig == cc.engine_digest_pandas(sdf.toPandas())
    ddig = cc.duck_engine_digest(duck, _DECIMAL_PIN_SQL)
    assert ddig is not None
    cur = duck.execute(_DECIMAL_PIN_SQL)
    ref = pd.DataFrame(
        cur.fetchall(), columns=[d[0] for d in cur.description], dtype=object
    )
    assert ddig == cc.engine_digest_pandas(ref)
    assert sdig == ddig


def test_canonical_oracle_short_duplicate_texts(spark):
    """ADVICE r06: duplicate texts SHORTER than the shingle width (< 3
    tokens) emit no shingles, so the old recursive-CTE oracle kept them as
    singletons while the engine's exact-text collapse merges them. The
    oracle now carries an explicit text-equality edge; both engines must
    agree on a corpus where that corner is live."""
    import duckdb

    from kafka_etl_automation_spark.operators import dedup
    from kafka_etl_automation_spark.plans.extensions import _CANONICAL_ORACLE

    docs = [
        (1, "hi there"),            # 2 tokens: no shingles
        (2, "hi there"),            # exact dup of 1 -> must merge
        (3, "alpha beta gamma delta epsilon"),
        (4, "alpha beta gamma delta epsilon"),  # >= 3-token exact dup
        (5, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.keep_id, r.n_members)
        for r in dedup.canonical_keep_list(df, n=3, threshold=0.2).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    want = {tuple(r) for r in con.execute(_CANONICAL_ORACLE).fetchall()}
    assert got == want, (got, want)
    assert (1, 2) in got  # the short-dup pair merged identically
