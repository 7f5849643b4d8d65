"""Benchmark of the package at local[nproc]: one workload per run.

    python3 perfbench/run.py --workload daily_tick --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts one session, warms up (untimed), runs a closed loop with
one client in whole rounds (at least the workload's minimum) until at
least ``--seconds`` have passed, checks every output, and prints one
JSON result as the last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The full record (stamp, per-op rows, spans) is written
to ``.bench_out/``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".bench_out")
PACKAGE = "uber_data_pipeline_spark"
WORKLOADS = ("daily_tick", "star_queries", "similarity_search")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}
MODELS = (
    "stg_pickups",
    "top_3_bases_by_total_pickups",
    "pickup_percentile_by_base_per_month",
    "top_3_pickup_dates_per_base",
    "pickup_count_vs_average_per_base",
    "unter_grun_pickups_in_bronx",
    "total_pickups_in_may_by_base",
    "monthly_status_rollup",
)
PER_LAYER = {
    "session.start_s": "s",
    "bench.warm_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.slot_busy_ratio": "ratio",
    "sources.extract_s": "s",
    "sources.extract_rows": "count",
    "streaming.load_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.start_stop_s": "s",
    "sources.merge_bytes_written": "bytes",
    "sources.merge_files_written": "count",
    "sources.write_amp": "ratio",
    "sources.lake_files": "count",
    "sources.lake_bytes": "bytes",
    "plans.dag_s": "s",
    "plans.dag_jobs": "count",
    **{f"plans.model_s.{m}": "s" for m in MODELS},
    "plans.checks_s": "s",
    "plans.checks_jobs": "count",
    "bench.unattributed_s": "s",
    "bench.trace_overhead_s": "s",
    "spark.stages_evicted": "count",
    "process.peak_rss_mb": "MiB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def load_stamp() -> dict:
    """/proc/loadavg plus the cpu PSI 'some' line (bench.py's shape),
    and the CPU steal counter of /proc/stat."""
    stamp: dict = {"epoch_s": round(time.time(), 1)}
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        stamp.update(
            loadavg_1m=float(parts[0]),
            loadavg_5m=float(parts[1]),
            loadavg_15m=float(parts[2]),
        )
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        stamp["cpu_steal_ticks"] = int(cpu[8])  # time taken by the host
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    kv = dict(p.split("=") for p in line.split()[1:])
                    stamp.update(
                        cpu_psi_some_avg10=float(kv["avg10"]),
                        cpu_psi_some_avg60=float(kv["avg60"]),
                        cpu_psi_some_total_us=int(kv["total"]),
                    )
    except OSError:
        pass
    return stamp


def source_identity() -> dict:
    """The commit when run from a git checkout, and always a digest of
    the package sources (the benchmark also runs from plain exports)."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    return {"commit": commit, "package_sha256": digest.hexdigest()}


def descendants(root_pid: int) -> list[int]:
    """The pids of every descendant of ``root_pid`` (the JVM and Spark's
    Python workers, for this process)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (the
    Python driver, the JVM and Spark's Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


def _start_ticks(pid: int) -> int | None:
    """The start time of a live ``pid``, or None once it has ended
    (gone, or a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def stop_spark_processes(timeout_s: float = 60.0) -> None:
    """Stop the Spark session and the JVM behind it, and wait until the
    JVM and every Python worker it started have ended.

    ``SparkSession.stop()`` leaves the JVM running until this process
    exits, and the JVM then shuts down on its own after it; closing its
    stdin ends it now, and it takes its Python workers with it.
    Processes still running after ``timeout_s`` are killed."""
    started = {pid: _start_ticks(pid) for pid in descendants(os.getpid())}
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the workers are the JVM's children, so this process cannot wait()
    # for them: poll until each has ended (a reused pid has a new start)
    deadline = time.monotonic() + timeout_s
    live = {pid for pid, t in started.items() if t is not None and _start_ticks(pid) == t}
    killed = False
    while live and time.monotonic() < deadline + 10:
        if not killed and time.monotonic() > deadline:
            for pid in live:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            killed = True
        time.sleep(0.1)
        live = {pid for pid in live if _start_ticks(pid) == started[pid]}
    if live:
        log(f"processes still running after shutdown: {sorted(live)}")


class RssSampler:
    """One thread sampling the process tree's RSS; keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self._interval):
                return


def percentile_tail(values: list[float]) -> dict | None:
    """The highest whole percentile with at least 10 samples beyond it,
    or None where that percentile is the median (or lower)."""
    n = len(values)
    p = 100 * (n - 10) // n if n > 10 else 0
    if p <= 50:
        return None
    ordered = sorted(values)
    return {"percentile": p, "n": n, "value": ordered[max(0, -(-p * n // 100) - 1)]}


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def end_to_end_metrics(run: dict, done: list) -> dict:
    """``done``: the ops that neither raised nor failed their check."""
    walls = [r.wall_s for r in done if not r.traced]
    return {
        "setup_s": run["setup_s"],
        "op_p50_s": median(walls),
        "ops_per_s": len(done) / run["loop_s"],
    }


def per_layer_metrics(run: dict, done: list, nproc: int) -> dict:
    """``done``: the ops that neither raised nor failed their check."""
    traced = [r for r in done if r.traced]

    def span(r, name):
        return r.info["span_s"].get(name, 0.0)

    def spark(r, key):
        return r.info["spark"][key]

    def progress(r, key):
        return sum(p["duration_ms"].get(key, 0) for p in r.info.get("progress", ())) / 1e3

    def med(fn):
        return median(fn(r) for r in traced)

    def busy(r):
        wall = spark(r, "job_busy_s")
        return spark(r, "executor_run_s") / (wall * nproc) if wall else 0.0

    def write_amp(r):
        landed = r.info.get("landed_bytes", 0)
        return r.info["merge_bytes_written"] / landed if landed else 0.0

    m = {
        "session.start_s": run["session_s"],
        "bench.warm_s": run["warm_s"],
        "queries.construct_s": med(lambda r: span(r, "construct")),
        "queries.construct_jobs": med(lambda r: r.info.get("construct_jobs", 0)),
        "spark.plan_s": med(lambda r: span(r, "plan")),
        # the execute call where the op has one; a tick has none, so
        # the wall time in which any of its Spark jobs ran
        "spark.execute_s": med(
            lambda r: span(r, "execute") if "execute" in r.info["span_s"]
            else spark(r, "job_busy_s")
        ),
        "spark.slot_busy_ratio": med(busy),
        "sources.extract_s": med(lambda r: span(r, "extract")),
        "sources.extract_rows": med(lambda r: r.info.get("extract_rows", 0)),
        "streaming.load_s": med(lambda r: span(r, "load")),
        "streaming.batches": med(lambda r: len(r.info.get("progress", ()))),
        "streaming.add_batch_s": med(lambda r: progress(r, "addBatch")),
        "streaming.trigger_overhead_s": med(
            lambda r: progress(r, "triggerExecution") - progress(r, "addBatch")
        ),
        "streaming.start_stop_s": med(
            lambda r: span(r, "load") - progress(r, "triggerExecution")
            if "load" in r.info["span_s"] else 0.0
        ),
        "sources.merge_bytes_written": med(lambda r: r.info.get("merge_bytes_written", 0)),
        "sources.merge_files_written": med(lambda r: r.info.get("merge_files_written", 0)),
        "sources.write_amp": med(lambda r: write_amp(r) if "landed_bytes" in r.info else 0.0),
        "sources.lake_files": med(lambda r: r.info.get("lake_files", 0)),
        "sources.lake_bytes": med(lambda r: r.info.get("lake_bytes", 0)),
        "plans.dag_s": med(lambda r: span(r, "transform")),
        "plans.dag_jobs": med(lambda r: r.info.get("dag_jobs", 0)),
        "plans.checks_s": med(lambda r: span(r, "test")),
        "plans.checks_jobs": med(lambda r: r.info.get("checks_jobs", 0)),
        "bench.unattributed_s": med(lambda r: r.info["unattributed_s"]),
        "bench.trace_overhead_s": median(r.wall_s for r in traced)
        - median(r.wall_s for r in done if not r.traced),
        "spark.stages_evicted": sum(spark(r, "stages_evicted") for r in traced),
        "process.peak_rss_mb": run["peak_rss_bytes"] / (1 << 20),
    }
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes"):
        m[f"spark.{key}"] = med(lambda r, k=key: spark(r, k))
    for model in MODELS:
        m[f"plans.model_s.{model}"] = med(
            lambda r, k=model: r.info.get("model_s", {}).get(k, 0.0)
        )
    return m


def prepare_environment(work_dir: str, nproc: int) -> None:
    """Keep every file the run writes inside the checkout and pin the
    session to local[nproc]. Spark's Python workers import the package,
    so the checkout root goes on their PYTHONPATH."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def run(args, work_dir: str) -> dict:
    import duckdb

    import datagen
    import workloads
    from spans import SparkProbe, Tracer

    from uber_data_pipeline_spark.catalog import TABLES
    from uber_data_pipeline_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, **source_identity(),
        "load_before": load_stamp(),
    }
    rundata: dict = {}
    # peak RSS is a per-layer metric, so only a traced run samples it
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        t = time.perf_counter()
        data_dir = os.path.join(work_dir, "data")
        datagen.generate(data_dir, args.seed)
        rundata["datagen_s"] = time.perf_counter() - t

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        rundata["session_s"] = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        master = spark.sparkContext.master
        stamp.update(
            master=master, spark_version=spark.version,
            local_n=spark.sparkContext.defaultParallelism,
        )
        stamp["valid"] = master == f"local[{nproc}]"
        if not stamp["valid"]:
            log(f"INVALID run: master {master} is not local[{nproc}]")

        ctx = workloads.Context(spark, data_dir, work_dir, args.seed, nproc)
        wl = workloads.make(args.workload, ctx)
        tracer = Tracer()
        t = time.perf_counter()
        wl.warm(tracer)
        rundata["warm_s"] = time.perf_counter() - t
        if args.trace:
            ctx.probe = SparkProbe(spark)
        rundata["setup_s"] = process_age_s() - rundata["datagen_s"]
        log(f"setup {rundata['setup_s']:.2f}s (session {rundata['session_s']:.2f}s, "
            f"warm {rundata['warm_s']:.2f}s, inputs {rundata['datagen_s']:.2f}s not counted)")

        # timed closed loop: whole rounds of one seed-shuffled order; a
        # traced run alternates untraced and traced ops
        order = wl.round(random.Random(args.seed))
        min_rounds = wl.min_rounds[args.trace]
        ops: list = []
        t_loop = time.perf_counter()
        rounds = 0
        while True:
            for i, entry in enumerate(order):
                rec = workloads.OpRecord(len(ops), entry, args.trace and (i + rounds) % 2 == 1)
                wl.before_op(rec)
                tracer.probe = ctx.probe if rec.traced else None
                try:
                    with tracer.span("op", op=rec.op) as op_span:
                        wl.run_op(rec, tracer)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    rec.error = f"{type(e).__name__}: {e}"[:2000]
                    log(f"op {rec.op} ({entry}) raised:\n{traceback.format_exc()}")
                rec.wall_s = op_span.seconds
                rec.info["span_s"] = {c.name: c.seconds for c in tracer.children(op_span)}
                rec.info["unattributed_s"] = tracer.self_seconds(op_span)
                if rec.traced:
                    rec.info["spark"] = dataclasses.asdict(
                        ctx.probe.stage_totals(*op_span.jobs)
                    )
                wl.after_op(rec)
                tracer.probe = None
                ops.append(rec)
                log(f"op {rec.op} {entry} {rec.wall_s:.3f}s"
                    + (" traced" if rec.traced else ""))
            rounds += 1
            if rounds >= min_rounds and time.perf_counter() - t_loop >= args.seconds:
                break
        rundata["loop_s"] = time.perf_counter() - t_loop
        rundata["rounds"] = rounds

        duck = duckdb.connect()
        duck.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
        for name in TABLES:
            duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')"
            )
        problems, failed = wl.check(duck, ops)
        duck.close()
        failed |= {r.op for r in ops if r.error}
    if args.trace:
        rundata["peak_rss_bytes"] = rss.peak
    stamp["load_after"] = load_stamp()

    done = [r for r in ops if r.op not in failed]
    summary = {
        "op_tail_s": percentile_tail([r.wall_s for r in done if not r.traced]),
        "failed_op_ratio": len(failed) / len(ops),
        "ops": len(ops),
        "rounds": rundata["rounds"],
    }
    if args.trace:
        metrics, units = per_layer_metrics(rundata, done, nproc), PER_LAYER
    else:
        metrics, units = end_to_end_metrics(rundata, done), END_TO_END
    result = {
        "correct": not problems and not failed and stamp["valid"],
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "stamp": stamp, "run": rundata, "summary": summary,
        "problems": problems, "result": result,
        "ops": [
            {"op": r.op, "entry": r.entry, "traced": r.traced, "wall_s": r.wall_s,
             "error": r.error, **r.info}
            for r in ops
        ],
        "spans": tracer.dump(t_loop),
    }
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import uber_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import {PACKAGE} from {ROOT}: {e}")
        return 2

    work_dir = os.path.join(OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        prepare_environment(work_dir, len(os.sched_getaffinity(0)))
        record = run(args, work_dir)
    finally:
        stop_spark_processes()
        shutil.rmtree(work_dir, ignore_errors=True)
    path = os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"record: {os.path.relpath(path, ROOT)}; summary: {json.dumps(record['summary'])}")
    if record["problems"]:
        log(f"CHECK FAILURES: {json.dumps(record['problems'], default=str)[:4000]}")
    print(json.dumps(record["result"]), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
