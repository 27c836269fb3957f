"""Output checks, run after each iteration and outside every span.

Each check reads what the engine wrote with DuckDB or pyarrow, never with Spark, so checking adds no
Spark job to the traced run. Each returns a list of failure messages;
an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def parquet_rows(path: str) -> int:
    """Row count of every parquet file under ``path``, from the footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _files(path))


def _scan(path: str) -> str:
    files = _files(path)
    if not files:
        return "(SELECT NULL WHERE FALSE)"
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], hive_partitioning = true, union_by_name = true)"


def canon(df: pd.DataFrame) -> str:
    """Order-insensitive value hash: columns sorted by name, each cell as
    a canonical string (NULL as ``<NULL>``, floats in shortest round-trip
    form, timestamps to the microsecond), rows sorted."""
    cols = sorted(df.columns)
    parts = []
    for c in cols:
        s = df[c]
        kind = getattr(s.dtype, "kind", None)
        if kind == "M":
            out = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif kind == "O":
            out = s.map(lambda v: "<NULL>" if v is None else str(v))
        else:
            out = s.astype(str)
        parts.append(out.where(~s.isna(), "<NULL>").astype(str))
    rows = parts[0].str.cat(parts[1:], sep="|").sort_values().tolist() if parts else []
    head = ",".join(cols)
    return hashlib.sha256("\n".join([head, *rows]).encode()).hexdigest()[:16]


def arrival_to_dim(
    paths: dict, file_rows: list[int], ingest_records: int, load_ok: bool,
    suite: list[tuple[str, str]], users: int,
) -> list[str]:
    """Record conservation at every hop, contiguous offsets, no bronze dir
    for an empty batch, one current dimension row per user."""
    con = duckdb.connect()
    fail = []
    n = sum(file_rows)
    audit = con.sql(
        f"SELECT * FROM {_scan(paths['audit'])} ORDER BY batch_id"
    ).df()
    hops = {
        "arrival files": n,
        "ingest result": ingest_records,
        "audit n_records": int(audit["n_records"].sum()),
        "bronze": parquet_rows(paths["bronze"]),
        "conformed": parquet_rows(paths["conformed"]),
        "staging": parquet_rows(paths["staging"]),
    }
    full = audit[audit["n_records"] > 0].sort_values("from_offset")
    hops["audit offsets"] = int((full["until_offset"] - full["from_offset"] + 1).sum())
    for hop, rows in hops.items():
        if rows != n:
            fail.append(f"conservation: {hop} has {rows} records, arrival had {n}")

    starts = full["from_offset"].tolist()
    ends = full["until_offset"].tolist()
    expected_starts = [0] + [e + 1 for e in ends[:-1]]
    if starts != expected_starts or (ends and ends[-1] != n - 1):
        fail.append("offsets: audit ranges do not tile [0, n) without gap or overlap")

    empty = audit[audit["n_records"] == 0]
    if len(empty) != sum(1 for k in file_rows if k == 0):
        fail.append(f"T4: {len(empty)} empty batches for "
                    f"{sum(1 for k in file_rows if k == 0)} empty arrival files")
    for _, row in empty.iterrows():
        left = glob.glob(os.path.join(paths["bronze"], "*", f"batch_id={row['batch_id']}"))
        if left or row["file_processing_status"] != 0 or row["file_name"] != "":
            fail.append(f"T4: empty batch {row['batch_id']} left a bronze dir or file name")

    dim = _scan(paths["dim2"])
    per_user = con.sql(
        f"SELECT user_id, count(*) FILTER (WHERE record_status = '1') AS cur, "
        f"count(*) FILTER (WHERE record_status = '0') AS closed, "
        f"max(create_job_run_id) AS last_run FROM {dim} GROUP BY user_id"
    ).df()
    if len(per_user) != users or (per_user["cur"] != 1).any():
        fail.append("dimension: not exactly one current row per user")
    changed = per_user[per_user["closed"] > 0]
    if changed.empty or (changed["last_run"] != 2).any() or (changed["closed"] != 1).any():
        fail.append("dimension: day-2 changes did not expire and re-insert once")

    if not load_ok:
        fail.append("transform: incremental load failed its DQ suite")
    fail += [f"quality: {name} is {status}" for name, status in suite if status != "PASS"]
    return fail


def corpus_curation(
    root: str, documents: str, first_hashes: dict[str, str]
) -> tuple[list[str], dict[str, str]]:
    """``exact_dedup`` against a DuckDB recompute; the keep-list covers
    every document once; the keep-list and the decontamination report
    (when the iteration ran it) repeat the first iteration's hashes."""
    con = duckdb.connect()
    fail = []
    exact = con.sql(f"SELECT * FROM {_scan(os.path.join(root, 'exact'))}").df()
    oracle = con.sql(
        f"SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS canonical_id, "
        f"count(*) AS n_copies FROM read_parquet('{documents}') GROUP BY 1"
    ).df()
    if canon(exact) != canon(oracle):
        fail.append("exact_dedup: output differs from the DuckDB recompute")

    keep = con.sql(f"SELECT * FROM {_scan(os.path.join(root, 'keep'))}").df()
    n_docs = pq.ParquetFile(documents).metadata.num_rows
    if keep.empty or keep["n_members"].sum() != n_docs or keep["keep_id"].duplicated().any():
        fail.append("canonical_keep_list: clusters do not cover every document once")

    hashes = {"keep": canon(keep)}
    if _files(os.path.join(root, "decon")):
        hashes["decon"] = canon(
            con.sql(f"SELECT * FROM {_scan(os.path.join(root, 'decon'))}").df()
        )
    for out, h in hashes.items():
        if first_hashes.get(out, h) != h:
            fail.append(f"{out}: output hash {h} differs from the first iteration's "
                        f"{first_hashes[out]}")
    return fail, hashes


def analyst_queries(
    input_dir: str, results: dict[str, pd.DataFrame], oracles: dict[str, str]
) -> list[str]:
    """Each collected query result against its ``oracle_sql()`` run by
    DuckDB over the same input tables."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    fail = []
    for name, df in sorted(results.items()):
        sql = oracles.get(name)
        if sql is None:
            fail.append(f"{name}: no oracle")
            continue
        got, want = canon(df), canon(con.sql(sql).df())
        if got != want:
            fail.append(f"{name}: value hash {got} differs from the oracle's {want}")
    return fail
