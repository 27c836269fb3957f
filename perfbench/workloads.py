"""The benchmark workloads.

Each workload builds its inputs from the seed (``prepare``), then runs
iterations. One iteration calls the engine's public functions, each inside
a tracer span named after the engine module it exercises. Outputs are
checked after the iteration, outside every span (``check``); a failed
check or a raised call counts as a failure.

*Deep* calls run in traced runs only, so that an untraced run stays cheap
enough to repeat ~50 times in an hour: ``decontaminate_canonical_lsh``
(55 Spark jobs, ~18 s a call on a 4-core host) and the analysts' registry
queries (~15 s a round, ~25 s cold). Their layers are measured per layer,
not end to end.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen
from spans import ProgressListener

KEEP_LIST = "operators.dedup.canonical_keep_list"
DECON = "operators.curation.decontaminate_canonical_lsh"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    catalog_tables: tuple[str, ...] = ()

    def __init__(self, work_dir: str, seed: int, deep: bool = False):
        self.work_dir = work_dir
        self.seed = seed
        self.input_dir = os.path.join(work_dir, "input")
        self.deep = deep  # run the deep calls too
        self.index = 0  # the running iteration; 0 is the cold one

    def prepare(self) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        """Hook run once the session is up, before the first iteration."""

    def iterate(self, spark, tracer, root: str) -> None:
        raise NotImplementedError

    def check(self, root: str, tracer) -> list[str]:
        return []

    def run_iteration(self, spark, tracer, index: int, clock):
        """One isolated iteration: fresh root, calls, checks, cleanup.
        Returns (failures, seconds spent checking, CPU seconds of the
        calls as ``clock.lap()`` reads them, checks excluded)."""
        root = os.path.join(self.work_dir, f"iter-{index}")
        os.makedirs(root)
        tracer.iteration = self.index = index
        try:
            self.iterate(spark, tracer, root)
            tracer.settle()
            cpu_s = clock.lap()
            t0 = time.perf_counter()
            failures = self.check(root, tracer)
            check_s = time.perf_counter() - t0
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return failures, check_s, cpu_s


class AnalystQueries:
    """The analysts' read-only registry queries, one per module that builds
    their plan (and ``ext_ivf_topk``, whose 28 sequential jobs set the
    tail), issued back to back in a seeded order each round. The cold
    iteration collects every result and checks it against the query's
    ``oracle_sql()`` in DuckDB; the first warm iteration forces results
    through the noop sink. Later iterations skip the queries, so that a
    traced run stays under three minutes."""

    # query -> the layer (engine module) that builds its plan
    QUERIES = {
        "w1_latest_per_group": "plans.relational",
        "ext_rollup": "plans.extensions",
        "ext_sessionize": "operators.sessions",
        "ext_asof_join": "operators.joins",
        "ext_salted_agg": "operators.skew",
        "ext_cosine_topk": "operators.similarity",
        "ext_ivf_topk": "operators.similarity.ivf_topk",
    }
    N_ORDERS = 30_000
    N_CUSTOMERS = 3_000
    N_VECTORS = 2_000

    def __init__(self, input_dir: str, seed: int):
        self.input_dir = input_dir
        self.seed = seed
        self.results: dict = {}

    def prepare(self, rng: np.random.Generator) -> None:
        """Writes the tables besides ``events``."""
        for name, table in (
            ("orders", datagen.orders_table(rng, self.N_ORDERS, self.N_CUSTOMERS)),
            ("embeddings", datagen.embeddings_table(rng, self.N_VECTORS)),
        ):
            pq.write_table(table, os.path.join(self.input_dir, f"{name}.parquet"))

    def start(self) -> None:
        import __spark_entry__

        self.builders = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def run(self, spark, tracer, index: int) -> None:
        if index > 1:
            return
        order = sorted(self.QUERIES)
        np.random.default_rng([self.seed, index + 1]).shuffle(order)
        for name in order:
            with tracer.span(self.QUERIES[name]):
                df = self.builders[name](spark, self.input_dir)
                if index == 0:
                    self.results[name] = df.toPandas()
                else:
                    noop(df)
            spark.catalog.clearCache()

    def check(self) -> list[str]:
        if not self.results:
            return []
        failures = checks.analyst_queries(self.input_dir, self.results, self.oracles)
        self.results = {}
        return failures


class ArrivalToDim(Workload):
    """Arrival files -> bronze -> conformed -> staging -> Type-2 user dim;
    in traced runs, then the analysts' queries against the warehouse
    tables."""

    name = "arrival_to_dim"
    catalog_tables = ("events",)
    N_EVENTS = 20_000
    N_USERS = 1_500
    N_FILES = 8
    N_EMPTY = 2

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        events = datagen.events_table(rng, self.N_EVENTS, self.N_USERS)
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(events, os.path.join(self.input_dir, "events.parquet"))
        self.src = os.path.join(self.work_dir, "arrival")
        self.file_rows = datagen.arrival_files(
            self.src, events, self.seed, self.N_FILES, self.N_EMPTY
        )
        self.users = int(np.unique(events.column("user_id").to_numpy()).size)
        self.queries = AnalystQueries(self.input_dir, self.seed)
        if self.deep:
            self.queries.prepare(rng)

    def start(self, spark) -> None:
        if self.deep:
            self.queries.start()
        self.listener = ProgressListener(spark)
        self.schema = spark.read.parquet(
            os.path.join(self.input_dir, "events.parquet")
        ).schema

    def iterate(self, spark, tracer, root):
        from pyspark.sql import functions as F

        from kafka_etl_automation_spark import io as kio
        from kafka_etl_automation_spark import maintenance, quality, scd
        from kafka_etl_automation_spark.control import JobRegistry
        from kafka_etl_automation_spark.streaming import ingest
        from kafka_etl_automation_spark.transform import incremental_load

        p = {k: os.path.join(root, k) for k in (
            "bronze", "audit", "ckpt", "conformed", "ctl", "staging",
            "dq_audit", "dim1", "dim2",
        )}
        self.listener.reset()
        with tracer.span("streaming.ingest") as s:
            res = ingest.run_file_ingest(
                spark, source_dir=self.src, schema=self.schema,
                bronze_base=p["bronze"], audit_path=p["audit"],
                checkpoint_dir=p["ckpt"], topic="events", run_id=1,
                max_files_per_trigger=1,
            )
        progress = self.listener.wait_for(res.n_batches)
        s.counters.update(batches=res.n_batches, empty_batches=sum(
            1 for b in progress if b["rows"] == 0
        ))
        s.counters["progress"] = progress
        spark.catalog.clearCache()

        with tracer.span("io") as s:
            bronze = spark.read.parquet(*res.bronze_dirs)
            kio.write_conformed(
                bronze, p["conformed"], run_id=1, source_file_name="events",
                create_date="2024-01-01",
            )
        s.counters.update(zip(("mb_written", "files_written"), _dir_stats(p["conformed"])))
        spark.catalog.clearCache()

        with tracer.span("control"):
            reg = JobRegistry(spark, p["ctl"])
            run = reg.start_run("conform_job")
            reg.finish_run("conform_job", run, status=1, records=res.n_records)
        spark.catalog.clearCache()

        with tracer.span("transform"):
            conformed = spark.read.parquet(p["conformed"])
            load = incremental_load(
                spark, reg, "staging_job", "conform_job",
                conformed.withColumn("job_run_id", F.col("create_job_run_id")),
                "job_run_id", p["staging"], audit_path=p["dq_audit"],
            )
        spark.catalog.clearCache()

        with tracer.span("scd"):
            staging = scd.read_dim(spark, p["staging"])
            day1 = staging.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
            )
            scd.scd_merge(None, day1, ["user_id"], "2", run_id=1).write.parquet(p["dim1"])
            changed = F.pmod(F.xxhash64("user_id", F.lit(self.seed)), F.lit(10)) == 0
            day2 = day1.withColumn(
                "n_events",
                F.when(changed, F.col("n_events") + 1).otherwise(F.col("n_events")),
            )
            dim1 = scd.read_dim(spark, p["dim1"])
            scd.scd_merge(dim1, day2, ["user_id"], "2", run_id=2).write.parquet(p["dim2"])
        spark.catalog.clearCache()

        with tracer.span("quality"):
            dim2 = scd.read_dim(spark, p["dim2"])
            suite = quality.run_suite([
                quality.count_check(conformed, staging, "conformed_to_staging"),
                quality.null_check(dim2, ["user_id"], "dim_user_id_notnull"),
                quality.dup_check(scd.current_rows(dim2), ["user_id"], "dim_one_current"),
            ]).collect()
        spark.catalog.clearCache()

        with tracer.span("maintenance") as s:
            before, after = maintenance.compact(spark, p["staging"], target_mb=64)
        s.counters.update(files_before=before, files_after=after)
        spark.catalog.clearCache()

        self.last = dict(paths=p, result=res, load=load, suite=suite)
        if self.deep:
            self.queries.run(spark, tracer, self.index)

    def check(self, root, tracer):
        last = self.last
        return checks.arrival_to_dim(
            paths=last["paths"], file_rows=self.file_rows,
            ingest_records=last["result"].n_records,
            load_ok=last["load"] is not None and last["load"].dq_passed,
            suite=[(r.check_name, r.status) for r in last["suite"]],
            users=self.users,
        ) + self.queries.check()


class CorpusCuration(Workload):
    """Quality filter, exact dedup, the LSH canonical keep-list and, in
    traced runs, decontamination against the deduplicated corpus."""

    name = "corpus_curation"
    catalog_tables = ("documents",)
    N_DOCS = 1_000

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(
            datagen.documents_table(rng, self.N_DOCS),
            os.path.join(self.input_dir, "documents.parquet"),
        )
        self.first_hashes: dict[str, str] = {}

    def iterate(self, spark, tracer, root):
        from kafka_etl_automation_spark.catalog import load_table
        from kafka_etl_automation_spark.operators import curation, dedup

        docs = load_table(spark, self.input_dir, "documents")
        with tracer.span("operators.curation.score_and_filter"):
            noop(curation.score_and_filter(docs))
        spark.catalog.clearCache()
        with tracer.span("operators.dedup.exact_dedup"):
            dedup.exact_dedup(docs).write.parquet(os.path.join(root, "exact"))
        spark.catalog.clearCache()
        with tracer.span(KEEP_LIST):
            dedup.canonical_keep_list(
                docs,
                pair_source=lambda reps: dedup.minhash_lsh_pairs(
                    reps, n=3, num_hashes=64, bands=16, threshold=0.5,
                    collapse_exact=False, candidate_scope="star",
                    max_bucket=1000,
                ),
            ).write.parquet(os.path.join(root, "keep"))
        spark.catalog.clearCache()
        # not in the cold iteration: the keep-list has compiled the
        # signature, banding and components code it shares
        if self.deep and self.index > 0:
            with tracer.span(DECON):
                curation.decontaminate_canonical_lsh(
                    docs, max_bucket=1000
                ).write.parquet(os.path.join(root, "decon"))
            spark.catalog.clearCache()

    def check(self, root, tracer):
        failures, hashes = checks.corpus_curation(
            root, os.path.join(self.input_dir, "documents.parquet"),
            self.first_hashes,
        )
        for out, h in hashes.items():
            self.first_hashes.setdefault(out, h)
        rows = {KEEP_LIST: "keep", DECON: "decon"}
        for s in tracer.spans:
            if s.iteration == tracer.iteration and s.layer in rows:
                s.counters["rows_out"] = checks.parquet_rows(
                    os.path.join(root, rows[s.layer])
                )
        return failures


def _dir_stats(path: str) -> tuple[float, int]:
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total / (1024 * 1024), files


WORKLOADS = {w.name: w for w in (ArrivalToDim, CorpusCuration)}
