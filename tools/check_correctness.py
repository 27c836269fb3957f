"""Local differential checker mimicking the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry at a given SF and compares with
the DuckDB oracle: row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted by stringified tuple). Strict
string equality on cell values — stricter than any plausible driver hash,
so passing here is a good predictor of passing the driver gate.

Usage: python tools/check_correctness.py [--partitions N] [--engine-hash]
       [sf_dir] [name ...]

--engine-hash switches the value compare to an order-insensitive digest
computed INSIDE each engine (sum of 60-bit md5 row hashes over a shared
canonical row string) — comparison cost becomes one aggregate per engine
with no pandas materialization, which is what makes full-board value
verification feasible at the 100x/300x scale octaves (VERDICT r05 #1).
tests/test_differential.py pins the engine-side digest to the Python
reference `engine_digest_pandas` at sf0.01.

--partitions N sizes spark.sql.shuffle.partitions (default 32, the driver
gate's value). Because every oracle hash is partition-count-independent, a
green full sweep at a second value (e.g. 7) proves the whole board
partition-invariant: spark@N == oracle == spark@32 — the float-summation /
LISTAGG-ordering failure class cannot hide (VERDICT r04 #3).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dtype_sig(df: pd.DataFrame) -> list[str]:
    """Canonical per-column type signature, tz-aware.

    Integer/float widths are collapsed (the value hash already pins values)
    but datetime kind, unit and TIMEZONE are kept verbatim: the driver's
    schema gate distinguishes naive TIMESTAMP from TIMESTAMPTZ
    (ext_sessionize, VERDICT r02 #1/#3), so this checker must too.
    """
    sig = []
    for c in sorted(df.columns):
        dt = df[c].dtype
        kind = getattr(dt, "kind", None)
        if kind in ("i", "u"):
            sig.append(f"{c}:int")
        elif kind == "f":
            sig.append(f"{c}:float")
        elif kind == "b":
            sig.append(f"{c}:bool")
        elif kind == "M":  # datetime64 — keep tz (None for naive) explicit
            tz = getattr(dt, "tz", None)
            sig.append(f"{c}:datetime[tz={tz}]")
        else:
            sig.append(f"{c}:{dt}")
    return sig


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """Order-insensitive value hash: per-cell canonical strings, rows
    joined with '|', sorted, sha256. Vectorized column-wise (the original
    itertuples formulation cost ~320s on a 30M-row frame at the 300x
    octave — the checker, not the engines, dominated); cell semantics are
    unchanged and only need to be IDENTICAL for both engines within one
    run, since the hash is always computed fresh on both sides:
    - NULL/NaT/NaN -> '<NULL>'
    - float64 -> shortest round-trip repr (numpy str == Python repr)
    - datetime64 -> '%Y-%m-%d %H:%M:%S.%f'
    - everything else -> str(v)
    """
    import numpy as np

    cols = sorted(df.columns)
    parts = []
    for c in cols:
        s = df[c]
        kind = getattr(s.dtype, "kind", None)
        if kind == "M":
            out = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif kind == "f":
            out = s.astype(str)  # numpy shortest repr == Python repr
        elif kind == "O":
            # str() elementwise, preserving the old per-cell behavior for
            # Decimals/arrays/strings; floats hiding in object columns
            # keep repr semantics via str() identically
            out = s.map(lambda v: "<NULL>" if v is None else str(v))
        else:
            out = s.astype(str)
        mask = s.isna()
        if getattr(mask, "any", lambda: False)():
            out = out.where(~mask, "<NULL>")
        parts.append(out.to_numpy(dtype=object))
    if parts:
        joined = pd.Series(parts[0], dtype=object)
        for p in parts[1:]:
            # Series.str.cat, NOT np.char.add: the latter materializes
            # fixed-width unicode arrays (rows x max-width bytes — ruinous
            # when a text column rides along)
            joined = joined.str.cat(pd.Series(p, dtype=object), sep="|")
        rows = joined.sort_values(kind="stable").to_numpy()
    else:
        rows = np.array([""] * len(df), dtype=object)
    hasher = hashlib.sha256()
    step = 1_000_000
    for i in range(0, len(rows), step):
        block = "\n".join(rows[i : i + step].tolist())
        if i:
            block = "\n" + block
        hasher.update(block.encode())
    h = hasher.hexdigest()[:16]
    return len(df), cols, h


# ---------------------------------------------------------------------------
# --engine-hash: order-insensitive digest computed INSIDE each engine
# (VERDICT r05 #1). The pandas canon() above materializes every row on the
# driver, which dominates multi-million-row frames at the 100x/300x octaves;
# here each engine reduces its own result to (count, sum of 60-bit row
# hashes) so the comparison cost is one aggregate per engine.
#
# Canonicalization (must be IDENTICAL across Spark SQL, DuckDB SQL, and the
# Python reference `engine_digest_pandas` that the sf0.01 pin test compares
# against):
#   - columns sorted by name, cells joined with '|', NULL (and float NaN,
#     mirroring canon()'s isna() handling) -> '<NULL>'
#   - double/float -> '%.17e' (C-printf correct rounding; DuckDB printf and
#     Python '%' match bit-for-bit on the probe panel incl. 5e-324/1e300.
#     Spark's format_string pads Double.toString with zeros instead of
#     rounding, so the Spark side formats via a vectorized Arrow UDF —
#     checker tooling, still distributed, never driver-side)
#   - timestamp -> 'yyyy-MM-dd HH:mm:ss.SSSSSS' (session tz pinned UTC both
#     engines); date -> ISO; decimal/int/bool/string -> engine CAST AS
#     STRING (verified identical: 'true', '-0.50', ...)
#   - row hash = first 15 hex chars of md5(row) as a 60-bit int; digest =
#     exact SUM (decimal(38,0) in Spark, hugeint in DuckDB) — sum, not xor,
#     so duplicate-row multiplicity stays visible
# Unsupported column types (arrays/structs/binary) return None and the
# caller falls back to the pandas path for that query, with a note.
# ---------------------------------------------------------------------------


def _spark_canon_exprs(df):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf("string")
    def fmt17e(s: pd.Series) -> pd.Series:
        import numpy as np

        arr = s.to_numpy(dtype="float64")
        out = pd.Series(np.char.mod("%.17e", arr), index=s.index, dtype=object)
        return out.where(~s.isna(), None)

    exprs = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        t, c = f.dataType, F.col(f.name)
        if isinstance(t, (T.DoubleType, T.FloatType)):
            e = fmt17e(c.cast("double"))
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            e = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        elif isinstance(
            t,
            (
                T.StringType, T.DateType, T.BooleanType, T.DecimalType,
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            ),
        ):
            e = c.cast("string")
        else:
            return None
        exprs.append(F.coalesce(e, F.lit("<NULL>")))
    return exprs


def spark_engine_digest(df):
    """(row_count, digest) computed inside Spark; None if a column type is
    outside the canonicalization contract."""
    from pyspark.sql import functions as F

    exprs = _spark_canon_exprs(df)
    if exprs is None:
        return None
    row = F.concat_ws("|", *exprs)
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("d"),
    ).collect()[0]
    return int(r.n), int(r.d)


def _duck_canon_exprs(con, sql: str):
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) q").df()
    pairs = sorted(zip(desc["column_name"], desc["column_type"]))
    exprs = []
    for name, typ in pairs:
        q, t = f'"{name}"', typ.upper()
        if t in ("DOUBLE", "FLOAT", "REAL"):
            e = (
                f"CASE WHEN isnan({q}) THEN NULL "
                f"ELSE printf('%.17e', CAST({q} AS DOUBLE)) END"
            )
        elif t.startswith("TIMESTAMP") or t == "DATE":
            # duckdb's .df() renders DATE as naive datetime64, so the
            # pandas gate equates duck DATE with a spark midnight
            # timestamp; the canonical string mirrors that
            e = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
        elif (
            t in ("VARCHAR", "BOOLEAN", "TINYINT", "SMALLINT", "INTEGER",
                  "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT", "UINTEGER",
                  "UBIGINT")
            or t.startswith("DECIMAL")
        ):
            e = f"CAST({q} AS VARCHAR)"
        else:
            return None
        exprs.append(f"COALESCE({e}, '<NULL>')")
    return exprs


def duck_engine_digest(con, sql: str):
    exprs = _duck_canon_exprs(con, sql)
    if exprs is None:
        return None
    joined = ", ".join(exprs)
    r = con.execute(
        f"SELECT COUNT(*) AS n, "
        f"COALESCE(SUM(CAST('0x' || substring(md5(rowstr), 1, 15) AS BIGINT)), 0) AS d "
        f"FROM (SELECT concat_ws('|', {joined}) AS rowstr "
        f"      FROM (SELECT * FROM ({sql}) q0) q) h"
    ).fetchone()
    return int(r[0]), int(r[1])


def engine_digest_pandas(df: pd.DataFrame) -> tuple[int, int]:
    """Python reference of the SAME canonicalization — the sf0.01 pin test
    asserts both engines' in-engine digests equal this on their own
    materialized results."""
    cols = sorted(df.columns)
    parts = []
    for c in cols:
        s = df[c]
        kind = getattr(s.dtype, "kind", None)
        if kind == "f":
            out = s.map(lambda v: None if pd.isna(v) else "%.17e" % v)
        elif kind == "M":
            out = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif kind == "b":
            out = s.map(lambda v: "true" if v else "false")
        else:
            out = s.map(
                lambda v: "true" if v is True else
                "false" if v is False else
                None if v is None else
                ("%.17e" % v if isinstance(v, float) and not pd.isna(v) else str(v))
            )
        mask = s.isna()
        if getattr(mask, "any", lambda: False)():
            out = out.where(~mask, None)
        parts.append(out.fillna("<NULL>"))
    total = 0
    if len(df):
        joined = parts[0] if parts else pd.Series([""] * len(df))
        for p in parts[1:]:
            joined = joined.str.cat(p, sep="|")
        for row in joined:
            total += int(hashlib.md5(row.encode()).hexdigest()[:15], 16)
    return len(df), total


def _coarse_type_sig_spark(df) -> list[str]:
    from pyspark.sql import types as T

    out = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            tag = "float"
        elif isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            tag = "int"
        elif isinstance(t, T.DecimalType):
            tag = f"dec({t.precision},{t.scale})"
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            # Spark toPandas renders LTZ timestamps NAIVE in session tz, so
            # the pandas gate equates spark timestamp with duck TIMESTAMP;
            # mirror that here (duck TIMESTAMPTZ stays distinct, as its
            # pandas frame is tz-aware and would fail the pandas gate too)
            tag = "ts"
        elif isinstance(t, T.DateType):
            tag = "date"
        elif isinstance(t, T.BooleanType):
            tag = "bool"
        else:
            tag = t.simpleString()
        out.append(f"{f.name}:{tag}")
    return out


def _coarse_type_sig_duck(con, sql: str) -> list[str]:
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) q").df()
    out = []
    for name, typ in sorted(zip(desc["column_name"], desc["column_type"])):
        t = typ.upper()
        if t in ("DOUBLE", "FLOAT", "REAL"):
            tag = "float"
        elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                   "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
            tag = "int"
        elif t.startswith("DECIMAL"):
            tag = "dec" + t[len("DECIMAL"):].replace(" ", "")
        elif t == "TIMESTAMP WITH TIME ZONE":
            tag = "tstz"
        elif t.startswith("TIMESTAMP") or t == "DATE":
            tag = "ts"  # DATE -> naive datetime64 in .df(); see canon note
        elif t == "BOOLEAN":
            tag = "bool"
        elif t == "VARCHAR":
            tag = "string"
        else:
            tag = t.lower()
        out.append(f"{name}:{tag}")
    return out


def main() -> int:
    argv = list(sys.argv[1:])
    partitions = "32"
    if "--partitions" in argv:
        i = argv.index("--partitions")
        partitions = argv[i + 1]
        del argv[i : i + 2]
    engine_hash = "--engine-hash" in argv
    if engine_hash:
        argv.remove("--engine-hash")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    from kafka_etl_automation_spark.session import next_job_id, spark_work

    # Deliberately a VANILLA session (not get_spark): the driver gate builds
    # its own SparkSession, so queries must be correct without any factory
    # confs — round 1 failed exactly this way (VERDICT.md item 1).
    # CHECK_CPUS / CHECK_DRIVER_MEM deliberately shrink the session for the
    # memory-pressure/spill sweep (VERDICT r05 #5); defaults match the
    # driver gate. A query that spilled shows its spill on its line.
    import os as _os

    builder = (
        SparkSession.builder.master(
            f"local[{_os.environ.get('CHECK_CPUS', '32')}]"
        )
        .appName("check-correctness")
        .config("spark.sql.shuffle.partitions", partitions)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory", _os.environ.get("CHECK_DRIVER_MEM", "16g")
        )
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Harness-side, not engine-side: the streaming gate queries land in a
    # memory sink whose batches are serialized task results — at the 300x
    # octave (30M events -> ~28.6M session rows) that legitimately exceeds
    # the 1g default. Production streams use the parquet/per-run dir sink
    # (S4); the memory sink exists only so the oracle can see the rows.
    builder = builder.config(
        "spark.driver.maxResultSize",
        _os.environ.get("CHECK_MAX_RESULT", "8g"),
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def _duck_connect():
        """Fresh oracle connection with a SPILL PATH. An in-memory DuckDB
        has no temp_directory, so blocking operators (sorts/hash aggs/
        recursive CTEs) must fit in RAM — at the 300x octave one oracle's
        sort hit std::bad_alloc while sharing the host with the Spark JVM,
        and the failed allocator state then poisoned every later oracle on
        the same connection (r07 sweep). Cap the budget well below host RAM
        and give it a temp dir: beyond the cap it spills instead of dying."""
        c = duckdb.connect()
        c.execute("SET TimeZone='UTC'")
        c.execute(
            "SET memory_limit='"
            + _os.environ.get("CHECK_DUCK_MEM", "48GB") + "'"
        )
        # Fewer oracle threads = less concurrent unspillable allocation —
        # the 300x kmeans oracle (unrolled Lloyd SQL) exhausted a 24GB
        # budget at DuckDB's default threads=all-32-cores but fits with
        # fewer workers; also keeps the oracle from stealing every core
        # from a concurrently-finishing Spark stage.
        duck_threads = _os.environ.get("CHECK_DUCK_THREADS")
        if duck_threads:
            c.execute(f"SET threads={int(duck_threads)}")
        c.execute("SET temp_directory='/tmp/duck_spill.tmp'")
        for name in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            c.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        return c

    con = _duck_connect()

    def _spill(first: int) -> str:
        """The line suffix ' spill=<MB>' when the query's jobs spilled."""
        mb = spark_work(spark, first, next_job_id(spark))["spill_mb"]
        return f" spill={mb:.1f}MB" if mb else ""

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures, errors, no_oracle = [], [], []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0, j0 = time.time(), next_job_id(spark)
        # one erroring query must REPORT, not kill the sweep — the r03
        # ext_sessionize break went unnoticed because an earlier error
        # aborted the whole run (VERDICT r03 #3)
        try:
            sdf_frame = fn(spark, sf_dir)
            if engine_hash and name in oracles:
                # in-engine digests: one aggregate per engine, no pandas
                # materialization (the whole point at 100x/300x)
                sdig = spark_engine_digest(sdf_frame)
                t_spark = time.time() - t0
                spill = _spill(j0)
                if sdig is not None:
                    ddig = duck_engine_digest(con, oracles[name])
                if sdig is not None and ddig is not None:
                    t_duck = time.time() - t0 - t_spark
                    st = _coarse_type_sig_spark(sdf_frame)
                    dt_ = _coarse_type_sig_duck(con, oracles[name])
                    spark.catalog.clearCache()
                    ok = sdig == ddig and st == dt_
                    status = "OK " if ok else "FAIL"
                    print(f"  {name:28s} {status} rows={sdig[0]}/{ddig[0]} "
                          f"edigest={sdig[1] % 10**12}/{ddig[1] % 10**12} "
                          f"[{time.time()-t0:.1f}s spark={t_spark:.1f} "
                          f"duck={t_duck:.1f}]{spill}")
                    if not ok:
                        failures.append(name)
                        if st != dt_:
                            print(f"    sig spark={st}\n    sig duck ={dt_}")
                    continue
                print(f"  {name:28s} (engine-hash unsupported type -> pandas)")
            sdf = sdf_frame.toPandas()
            spill = _spill(j0)
        except Exception as exc:
            errors.append(name)
            msg = str(exc).splitlines()[0][:200]
            print(f"  {name:28s} ERROR {msg} [{time.time()-t0:.1f}s]")
            try:  # a dead session makes clearCache itself raise; the
                spark.catalog.clearCache()  # sweep must still continue
            except Exception:
                pass
            # A duck-side OOM leaves the connection's allocator poisoned
            # (every later allocation fails — observed cascading through
            # 30+ queries in the first 300x sweep). A fresh connection is
            # cheap (views only), so always rebuild after an error.
            try:
                con.close()
            except Exception:
                pass
            con = _duck_connect()
            continue
        spark.catalog.clearCache()  # LSH ops persist() multi-branch frames
        if name not in oracles:
            no_oracle.append(name)
            print(f"  {name:28s} rows={len(sdf):>7} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]{spill}")
            continue
        ddf = con.execute(oracles[name]).df()
        sn, sc, sh = canon(sdf)
        dn, dc, dh = canon(ddf)
        st, dt_ = dtype_sig(sdf), dtype_sig(ddf)
        ok = (sn, sc, sh, st) == (dn, dc, dh, dt_)
        status = "OK " if ok else "FAIL"
        print(f"  {name:28s} {status} rows={sn}/{dn} hash={sh}/{dh} "
              f"[{time.time()-t0:.1f}s]{spill}")
        if not ok:
            failures.append(name)
            if sc != dc:
                print(f"    cols spark={sc}\n    cols duck ={dc}")
            elif st != dt_:
                bad = [(a, b) for a, b in zip(st, dt_) if a != b]
                print(f"    dtype mismatch: {bad}")
            elif sn == dn:
                m = sdf[sorted(sdf.columns)].copy()
                d = ddf[sorted(ddf.columns)].copy()
                print(f"    dtypes spark={list(m.dtypes)}\n    dtypes duck ={list(d.dtypes)}")
                print("    spark head:", m.head(3).to_dict("records"))
                print("    duck  head:", d.head(3).to_dict("records"))
    print(f"\n{n_run - len(failures) - len(errors) - len(no_oracle)} ok, "
          f"{len(failures)} failed, {len(errors)} errored, "
          f"{len(no_oracle)} rows-only "
          f"[shuffle.partitions={partitions}"
          f"{', engine-hash' if engine_hash else ''}]")
    if failures:
        print("FAILED:", failures)
    if errors:
        print("ERRORED:", errors)
    return 1 if failures or errors else 0


if __name__ == "__main__":
    sys.exit(main())
