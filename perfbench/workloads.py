"""The three workloads. Each drives the package only through its
public functions; every op is one call of the closed loop's single
client.

- ``daily_tick``: one op is one tick of the reference pipeline
  (extract -> load -> transform -> test).
- ``star_queries``: one op is one read-only registry entry over the
  star schema, timed as a full-column noop-sink write.
- ``similarity_search``: the same, over the embedding-search entries.

Outputs are checked outside the timed window; see ``check``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import datagen
from spans import ProgressListener, SparkProbe, Tracer, lake_files

from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.plans.checks import star_schema_checks
from uber_data_pipeline_spark.plans.dag import run_dag
from uber_data_pipeline_spark.plans.uber_models import build_registry
from uber_data_pipeline_spark.queries import all_oracles, all_queries
from uber_data_pipeline_spark.sources.cdc import (
    high_watermark,
    incremental_rows,
    merge_latest,
)
from uber_data_pipeline_spark.streaming.events import merge_sink_stream
from uber_data_pipeline_spark.testing import compare

STAR_ENTRIES = (
    "top3_bases_by_pickups",
    "pickup_percentile_by_base_per_month",
    "top3_pickup_dates_per_base",
    "pickup_count_vs_average_per_base",
    "unter_grun_pickups_in_bronx",
    "total_pickups_in_may_by_base",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
)
SIMILARITY_ENTRIES = (
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "embeddings_outlier_knn",
    "dedup_semantic_cluster",
)
# the registry's merge-sink layout (queries/pipeline.py MERGE_SINK_PARTS)
LAKE_PART_EXPR = "CAST(o_orderkey % 16 AS INT)"
LANDED_FILES_PER_TICK = 2
# the first two ticks after the initial load run 50% and 10-15%
# slower than later ones, so neither is timed
WARM_TICKS = 2
CHECK_TABLES = ("orders", "customer", "lineitem", "events", "nation", "documents")


def clear_all(spark) -> None:
    """Drop what an op left cached: ``clearCache`` plus every
    persistent RDD (localCheckpoint blocks survive ``clearCache``)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    nproc: int
    probe: SparkProbe | None = None


@dataclass
class OpRecord:
    op: int
    entry: str
    traced: bool
    wall_s: float = 0.0
    error: str | None = None
    # filled in by the workload: per-op outputs and traced counters
    info: dict = field(default_factory=dict)


class QueryWorkload:
    """Read-only registry entries, each timed as construct
    (``fn(spark, sf_dir)``, including its eager work) -> [plan, traced
    runs only] -> execute (full-column noop write). The row count is
    observed during the write and checked against the checked result."""

    # timed rounds per run, at least (untraced, traced): a traced run
    # alternates untraced and traced ops, so two rounds measure every
    # entry both ways
    min_rounds = (1, 2)

    def __init__(self, ctx: Context, entries: tuple[str, ...]):
        self.ctx = ctx
        registry = all_queries()
        self.fns = {n: registry[n] for n in entries}
        self.entries = entries
        self.results: dict = {}

    def warm(self, tracer: Tracer) -> None:
        """One pass over every entry, collecting the result that
        ``check`` compares with the oracle. The entries run from
        ``nproc`` client threads: most of a cold pass is single-threaded
        driver work (class loading, code generation, JIT), so this
        shortens set-up without changing what the timed loop measures."""
        from concurrent.futures import ThreadPoolExecutor

        spark = self.ctx.spark

        def collect(name):
            try:
                return self.fns[name](spark, self.ctx.data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - reported by check()
                return e

        with tracer.span("warm:entries"):
            with ThreadPoolExecutor(max_workers=self.ctx.nproc) as pool:
                self.results = dict(zip(self.entries, pool.map(collect, self.entries)))
        clear_all(spark)
        # the collects above never ran the timed action; warm its
        # observe + noop-write path once, so the first timed op does not
        # pay for it
        obs = Observation()
        spark.range(1).observe(obs, F.count(F.lit(1))).write.format("noop").mode(
            "overwrite"
        ).save()
        obs.get

    def round(self, rng) -> list[str]:
        order = list(self.entries)
        rng.shuffle(order)
        return order

    def before_op(self, rec: OpRecord) -> None:
        pass

    def run_op(self, rec: OpRecord, tracer: Tracer) -> None:
        spark, probe = self.ctx.spark, tracer.probe
        with tracer.span("construct") as construct:
            df = self.fns[rec.entry](spark, self.ctx.data_dir)
        if probe:
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("execute"):
            obs = Observation()
            (
                df.observe(obs, F.count(F.lit(1)).alias("n"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            rec.info["rows"] = obs.get["n"]
        if probe:
            rec.info["construct_jobs"] = construct.jobs[1] - construct.jobs[0]

    def after_op(self, rec: OpRecord) -> None:
        clear_all(self.ctx.spark)

    def check(self, duck, ops: list[OpRecord]) -> tuple[dict, set[int]]:
        """Each entry's checked result against its DuckDB oracle, and
        each op's written row count against that result. Returns the
        problems found and the ops they fail."""
        oracles = all_oracles()
        problems: dict[str, list[str]] = {}
        for name in self.entries:
            result = self.results[name]
            if isinstance(result, Exception):
                problems[name] = [f"warm pass raised {type(result).__name__}: {result}"]
                continue
            found = compare(name, result, duck.execute(oracles[name]).df())
            if found:
                problems[name] = found
        failed = {r.op for r in ops if r.entry in problems}
        for rec in ops:
            if rec.entry in problems:
                continue
            n = len(self.results[rec.entry])
            if rec.error is None and rec.info.get("rows") != n:
                problems[f"op {rec.op}"] = [
                    f"{rec.entry} wrote {rec.info.get('rows')} rows, checked result has {n}"
                ]
                failed.add(rec.op)
        return problems, failed


class TickWorkload:
    """One op is one daily tick of the reference pipeline:

    - extract: ``high_watermark`` of the lake, then ``incremental_rows``
      of the change source past it, landed as parquet files;
    - load: one ``merge_sink_stream`` sync that restarts from its
      checkpoint and merges one micro-batch per landed file;
    - transform: ``run_dag(build_registry())``;
    - test: ``star_schema_checks`` over the catalog tables.

    Between ticks (untimed) the change source gains the next tick's
    changes, as an operational database would."""

    entries = ("tick",)
    # timed ticks per run, at least (untraced, traced): a traced run
    # brackets its traced tick between two untraced ones, so the warm-up
    # trend cancels out of bench.trace_overhead_s
    min_rounds = (1, 3)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        w = ctx.work_dir
        self.source_dir = os.path.join(w, "source")
        self.landing_dir = os.path.join(w, "landing")
        self.lake_dir = os.path.join(w, "lake")
        self.checkpoint_dir = os.path.join(w, "checkpoint")
        self.dag_dir = os.path.join(w, "dag")
        os.makedirs(self.source_dir)
        os.makedirs(self.landing_dir)
        pq.write_table(
            datagen.base_snapshot(ctx.data_dir),
            os.path.join(self.source_dir, "v0000.parquet"),
        )
        self.tick = 0
        self.outputs: dict[int, dict] = {}
        self._traced = None  # the last traced tick's spans, read in after_op
        self.listener = None  # registered around traced ticks only

    def _base(self):
        return self.ctx.spark.read.parquet(
            os.path.join(self.source_dir, "v0000.parquet")
        )

    def _load(self):
        return merge_sink_stream(
            self.ctx.spark,
            self._base(),
            self.landing_dir,
            datagen.CHANGE_DDL,
            target_path=self.lake_dir,
            checkpoint_dir=self.checkpoint_dir,
            key_cols=["o_orderkey"],
            part_expr=LAKE_PART_EXPR,
        )

    def warm(self, tracer: Tracer) -> None:
        """The initial full load (the stream stages the base snapshot
        and finds nothing landed), then untimed warm ticks."""
        with tracer.span("warm:initial_load"):
            self._load()
        for _ in range(WARM_TICKS):
            rec = OpRecord(op=-1, entry="tick", traced=False)
            self.before_op(rec)
            with tracer.span("warm:tick"):
                self.run_op(rec, tracer)

    def round(self, rng) -> list[str]:
        return ["tick"]

    def before_op(self, rec: OpRecord) -> None:
        self.tick += 1
        pq.write_table(
            datagen.tick_changes(self.ctx.seed, self.tick),
            os.path.join(self.source_dir, f"v{self.tick:04d}.parquet"),
        )
        if rec.traced:
            self.listener = self.listener or ProgressListener()
            self.ctx.spark.streams.addListener(self.listener)

    def run_op(self, rec: OpRecord, tracer: Tracer) -> None:
        spark, probe = self.ctx.spark, tracer.probe
        rec.info["tick"] = self.tick
        with tracer.span("extract") as extract:
            wm = high_watermark(spark.read.parquet(self.lake_dir), "version")
            source = spark.read.schema(datagen.CHANGE_DDL).parquet(self.source_dir)
            incremental_rows(source, "version", wm).repartition(
                LANDED_FILES_PER_TICK
            ).write.mode("append").parquet(self.landing_dir)
        exec0 = probe.next_execution_id() if probe else None
        with tracer.span("load") as load:
            self._load()
        exec1 = probe.next_execution_id() if probe else None
        with tracer.span("transform") as transform:
            built = run_dag(spark, build_registry(), self.ctx.data_dir, self.dag_dir)
        with tracer.span("test") as test:
            tables = {n: load_table(spark, self.ctx.data_dir, n) for n in CHECK_TABLES}
            checks = star_schema_checks(spark, tables).toPandas()
        self.outputs[self.tick] = {
            "dag": [(b.model, b.n_rows) for b in built],
            "checks": checks,
        }
        rec.info["model_s"] = {b.model: b.seconds for b in built}
        if probe:
            self._traced = (extract, load, transform, test, exec0, exec1)

    def after_op(self, rec: OpRecord) -> None:
        clear_all(self.ctx.spark)
        if not rec.traced:
            return
        probe = self.ctx.probe
        rec.info["progress"] = self.listener.drain()
        self.ctx.spark.streams.removeListener(self.listener)
        rec.info["lake_files"], rec.info["lake_bytes"] = lake_files(self.lake_dir)
        if rec.error is not None:
            return
        extract, load, transform, test, exec0, exec1 = self._traced
        ex = probe.stage_totals(*extract.jobs)
        ld = probe.stage_totals(*load.jobs)
        rec.info.update(
            extract_rows=ex.output_records,
            landed_bytes=ex.output_bytes,
            merge_bytes_written=ld.output_bytes,
            merge_files_written=probe.written_files(exec0, exec1),
            dag_jobs=transform.jobs[1] - transform.jobs[0],
            checks_jobs=test.jobs[1] - test.jobs[0],
        )

    def check(self, duck, ops: list[OpRecord]) -> tuple[dict, set[int]]:
        """After the last tick: the lake equals ``merge_latest`` over the
        base and every landed change batch (a mismatch fails the last
        tick); each timed tick's DAG build report and check-suite result
        equal their registry oracles."""
        spark = self.ctx.spark
        oracles = all_oracles()
        dag_expected = duck.execute(oracles["pipeline_dag_run"]).df()
        checks_expected = duck.execute(oracles["data_quality_checks"]).df()
        problems: dict[str, list[str]] = {}
        failed: set[int] = set()
        for rec in ops:
            out = self.outputs.get(rec.info.get("tick"))
            if rec.error is not None or out is None:
                continue
            dag = pd.DataFrame(out["dag"], columns=["model", "n_rows"])
            found = compare("pipeline_dag_run", dag, dag_expected)
            found += compare("data_quality_checks", out["checks"], checks_expected)
            if found:
                problems[f"tick {rec.info['tick']}"] = found
                failed.add(rec.op)
        landed = spark.read.schema(datagen.CHANGE_DDL).parquet(self.landing_dir)
        expected = merge_latest(self._base(), landed, ["o_orderkey"], "version")
        lake = spark.read.parquet(self.lake_dir).drop("pk_mod")
        found = compare("lake", lake.toPandas(), expected.toPandas())
        if found:
            problems[f"lake after tick {self.tick}"] = found
            failed |= {r.op for r in ops if r.info.get("tick") == self.tick}
        return problems, failed


def make(name: str, ctx: Context):
    if name == "daily_tick":
        return TickWorkload(ctx)
    if name == "star_queries":
        return QueryWorkload(ctx, STAR_ENTRIES)
    if name == "similarity_search":
        return QueryWorkload(ctx, SIMILARITY_ENTRIES)
    raise ValueError(f"unknown workload {name!r}")
