"""Control plane: job registry + incremental high-water-mark windows.

Spark-native re-expression of the reference's ``JOB_PROCESS_CONTROL`` /
``JOB_PROCESS_CONTROL_SRC`` machinery:

- run registry with allocation + completion status
  (/root/reference/KafkaScript_ConformToStaging.sh:76-121,
   /root/reference/Kafka_ArrivalToConform.sh:84-112,197-207)
- high-water-mark consumption windows: a downstream job consumes only
  source runs with ``job_run_id > max consumed`` and records the window it
  took (/root/reference/Kafka_MultipleTables.sh:76-121,
   /root/reference/fact_dim_merging.sh:46-110)
- the ``0,0 -> NO RECORDS AVAILABLE TO PROCESS`` short-circuit
  (/root/reference/KafkaScript_ConformToStaging.sh:113-121)
- reprocess flagging (M2, /root/reference/rerunnability.sh:85-89)

Storage is a directory of tiny parquet tables. The control plane is
METADATA — KBs even when the data plane is 100 TB — so registry mutations
(the reference's single-row Oracle DML) run driver-side over pyarrow with
an atomic file replace: no Spark job per metadata op (a ~1.5 s/op saving
that multiplies across every load). The *views* (``control()``/
``control_src()``) surface the same tables as Spark DataFrames for any
plan that wants to join against them, and all *data-plane* reads driven by
a window are ordinary pushed-down parquet scans: ``run_col BETWEEN lo AND
hi`` prunes at the scan, which is the behavior that matters at scale.

Single-writer assumption (one orchestrator mutates the registry at a time)
— the same assumption the reference's sequential shell drivers make.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_automation_spark.io import local_path

CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("job_name", T.StringType(), False),
        T.StructField("job_run_id", T.LongType(), False),
        T.StructField("job_run_status", T.IntegerType(), False),  # 0 running/1 ok/2 fail
        T.StructField("job_start_ts", T.TimestampType(), True),
        T.StructField("job_end_ts", T.TimestampType(), True),
        T.StructField("reprocess_flag", T.IntegerType(), False),
        T.StructField("records_processed", T.LongType(), True),
    ]
)

SRC_SCHEMA = T.StructType(
    [
        T.StructField("job_name", T.StringType(), False),
        T.StructField("job_run_id", T.LongType(), False),
        T.StructField("src_job_name", T.StringType(), False),
        T.StructField("min_src_run_id", T.LongType(), False),
        T.StructField("max_src_run_id", T.LongType(), False),
    ]
)

_CONTROL_PA = pa.schema(
    [
        ("job_name", pa.string()),
        ("job_run_id", pa.int64()),
        ("job_run_status", pa.int32()),
        ("job_start_ts", pa.timestamp("us")),
        ("job_end_ts", pa.timestamp("us")),
        ("reprocess_flag", pa.int32()),
        ("records_processed", pa.int64()),
    ]
)

_SRC_PA = pa.schema(
    [
        ("job_name", pa.string()),
        ("job_run_id", pa.int64()),
        ("src_job_name", pa.string()),
        ("min_src_run_id", pa.int64()),
        ("max_src_run_id", pa.int64()),
    ]
)


@dataclass(frozen=True)
class HwmWindow:
    """Consumption window [min_run_id, max_run_id]; (0, 0) = nothing new."""

    min_run_id: int
    max_run_id: int

    @property
    def empty(self) -> bool:
        # "NO RECORDS AVAILABLE TO PROCESS" short-circuit
        # (KafkaScript_ConformToStaging.sh:113-121).
        return self.min_run_id == 0 and self.max_run_id == 0


class JobRegistry:
    """Run registry backed by parquet control tables under ``root``, a
    local directory (:func:`io.local_path`: a plain path or a ``file:``
    URI)."""

    LOCK_TIMEOUT = 10.0  # seconds to wait for .registry.lock before raising

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = local_path(root)
        os.makedirs(self.root, exist_ok=True)

    # -- storage ------------------------------------------------------------

    def _lock(self):
        """Exclusive advisory lock around read-modify-write registry
        mutations (O_CREAT|O_EXCL lock file). Two concurrent orchestrators
        would otherwise both read MAX(job_run_id), allocate the same run id
        and silently clobber each other's finish_run; with the lock the
        second caller waits, and a crashed holder surfaces as a loud
        timeout (delete the stale .registry.lock to recover) instead of
        corrupted lineage (ADVICE r02)."""
        import contextlib
        import time as _time

        lock_path = os.path.join(self.root, ".registry.lock")

        @contextlib.contextmanager
        def _held():
            deadline = _time.monotonic() + self.LOCK_TIMEOUT
            while True:
                try:
                    fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    if _time.monotonic() > deadline:
                        raise TimeoutError(
                            f"registry lock {lock_path} held for "
                            f">{self.LOCK_TIMEOUT}s — "
                            "another orchestrator is mutating the registry, "
                            "or a crashed holder left a stale lock file"
                        ) from None
                    _time.sleep(0.05)
            try:
                os.write(fd, str(os.getpid()).encode())
                yield
            finally:
                os.close(fd)
                os.unlink(lock_path)

        return _held()

    def _path(self, name: str) -> str:
        # single parquet FILE, not a directory: os.replace of a file is
        # genuinely atomic, so a crash mid-update can never lose the table
        # (a dir-rename pair has a window where the table is absent and a
        # restarted registry would re-allocate run ids — code-review r02)
        return os.path.join(self.root, f"{name}.parquet")

    def _read_pd(self, name: str, schema: pa.Schema) -> pd.DataFrame:
        path = self._path(name)
        if not os.path.exists(path):
            return schema.empty_table().to_pandas()
        return pq.read_table(path).to_pandas()

    def _write_pd(self, pdf: pd.DataFrame, name: str, schema: pa.Schema) -> None:
        final = self._path(name)
        tmp = final + f".tmp{uuid.uuid4().hex[:8]}"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), tmp
        )
        os.replace(tmp, final)

    def _control_pd(self) -> pd.DataFrame:
        return self._read_pd("job_process_control", _CONTROL_PA)

    def _src_pd(self) -> pd.DataFrame:
        return self._read_pd("job_process_control_src", _SRC_PA)

    def control(self) -> DataFrame:
        """The control table as a Spark DataFrame (for plans that join it)."""
        path = self._path("job_process_control")
        if not os.path.exists(path):
            return self.spark.createDataFrame([], CONTROL_SCHEMA)
        return self.spark.read.schema(CONTROL_SCHEMA).parquet(path)

    def control_src(self) -> DataFrame:
        path = self._path("job_process_control_src")
        if not os.path.exists(path):
            return self.spark.createDataFrame([], SRC_SCHEMA)
        return self.spark.read.schema(SRC_SCHEMA).parquet(path)

    # -- run lifecycle ------------------------------------------------------

    def start_run(self, job_name: str) -> int:
        """Allocate the next run id for ``job_name`` and record it running
        (status 0). NVL(MAX(job_run_id),0)+1, as the reference computes it
        (Kafka_MultipleTables.sh:101-105)."""
        with self._lock():
            ctl = self._control_pd()
            mine = ctl[ctl["job_name"] == job_name]
            run_id = int(mine["job_run_id"].max()) + 1 if len(mine) else 1
            new = pd.DataFrame(
                [
                    {
                        "job_name": job_name,
                        "job_run_id": run_id,
                        "job_run_status": 0,
                        "job_start_ts": pd.Timestamp.now(),
                        "job_end_ts": pd.NaT,
                        "reprocess_flag": 0,
                        "records_processed": None,
                    }
                ]
            ).astype({"job_end_ts": "datetime64[us]", "records_processed": "Int64"})
            merged = new if not len(ctl) else pd.concat([ctl, new], ignore_index=True)
            self._write_pd(merged, "job_process_control", _CONTROL_PA)
            return run_id

    def finish_run(
        self, job_name: str, run_id: int, status: int = 1, records: int | None = None
    ) -> None:
        """Mark a run finished (1 success / 2 failed) and stamp job_end_ts —
        the reference's post-load control UPDATE
        (KafkaScript_ConformToStaging.sh:186-199)."""
        with self._lock():
            ctl = self._control_pd()
            hit = (ctl["job_name"] == job_name) & (ctl["job_run_id"] == run_id)
            ctl.loc[hit, "job_run_status"] = status
            ctl.loc[hit, "job_end_ts"] = pd.Timestamp.now()
            if records is not None:
                ctl.loc[hit, "records_processed"] = records
            self._write_pd(ctl, "job_process_control", _CONTROL_PA)

    def latest_success(self, job_name: str) -> int | None:
        """Latest successful run id — the 'current state' lookup the
        reference does with ROW_NUMBER (Kafka_ArrivalToConform.sh:101-108)."""
        ctl = self._control_pd()
        ok = ctl[(ctl["job_name"] == job_name) & (ctl["job_run_status"] == 1)]
        if not len(ok):
            return None
        ok = ok.sort_values(["job_end_ts", "job_run_id"], ascending=False)
        return int(ok.iloc[0]["job_run_id"])

    def run_status(self, job_name: str, run_id: int) -> int | None:
        """Q5 run-status validation (Kafka_ArrivalToConform.sh:197-207)."""
        ctl = self._control_pd()
        hit = ctl[(ctl["job_name"] == job_name) & (ctl["job_run_id"] == run_id)]
        return None if not len(hit) else int(hit.iloc[0]["job_run_status"])

    def mark_reprocess(self, job_name: str, run_id: int) -> None:
        """M2: UPDATE ... SET REPROCESS_FLAG=1 (rerunnability.sh:85-89)."""
        with self._lock():
            ctl = self._control_pd()
            hit = (ctl["job_name"] == job_name) & (ctl["job_run_id"] == run_id)
            ctl.loc[hit, "reprocess_flag"] = 1
            self._write_pd(ctl, "job_process_control", _CONTROL_PA)

    # -- incremental windows (T6) -------------------------------------------

    def hwm_window(self, job_name: str, src_job_name: str) -> HwmWindow:
        """Compute the next consumption window over the source job's
        successful runs: (min, max) of source run ids strictly above the
        high-water mark this job last consumed; (0, 0) when nothing new.

        Mirrors KafkaScript_ConformToStaging.sh:76-121: MAX_SRC_JOB_RUN_ID
        from JOB_PROCESS_CONTROL_SRC, then NVL(MIN/MAX over newer source
        runs, 0).
        """
        src = self._src_pd()
        mine = src[(src["job_name"] == job_name) & (src["src_job_name"] == src_job_name)]
        hwm = int(mine["max_src_run_id"].max()) if len(mine) else 0

        ctl = self._control_pd()
        avail = ctl[
            (ctl["job_name"] == src_job_name)
            & (ctl["job_run_status"] == 1)
            & (ctl["job_run_id"] > hwm)
        ]
        if not len(avail):
            return HwmWindow(0, 0)
        return HwmWindow(int(avail["job_run_id"].min()), int(avail["job_run_id"].max()))

    def record_consumed(
        self, job_name: str, run_id: int, src_job_name: str, window: HwmWindow
    ) -> None:
        """Advance the high-water mark: remember the window this run took."""
        with self._lock():
            src = self._src_pd()
            new = pd.DataFrame(
                [
                    {
                        "job_name": job_name,
                        "job_run_id": run_id,
                        "src_job_name": src_job_name,
                        "min_src_run_id": window.min_run_id,
                        "max_src_run_id": window.max_run_id,
                    }
                ]
            )
            merged = new if not len(src) else pd.concat([src, new], ignore_index=True)
            self._write_pd(merged, "job_process_control_src", _SRC_PA)


def apply_window(df: DataFrame, window: HwmWindow, run_col: str = "job_run_id") -> DataFrame:
    """Restrict a data-plane frame to the consumption window.

    The BETWEEN lands in PushedFilters on a parquet scan, so at 100 TB only
    the new runs' row groups are read (consumption window in
    /root/reference/query.txt:2: ``update_job_run_id >= MIN and <= MAX``).
    """
    return df.filter(F.col(run_col).between(window.min_run_id, window.max_run_id))
