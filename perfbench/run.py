"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(perfbench/feed.py); the program sees only the generated documents and
tables. Every workload is a closed loop with one client: each operation
starts when the previous one has finished. After an untimed warm-up, whole
passes run until the next would end past ``--seconds`` (at least one pass).
Outputs are checked against DuckDB (perfbench/checks.py).

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (perfbench/spans.py). The exit code is
non-zero when any output is wrong or the program cannot be imported.
See perfbench/README.md for what each metric and workload is for.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import feed as feedgen  # noqa: E402
import spans as tracing  # noqa: E402

WORKLOADS = ("etl_daily", "queries")
ETL_WARMUP_DAYS = 1
ETL_PASS_DAYS = 2
ETL_MAX_DAYS = 40
ETL_FIRST_DAY = dt.date(2024, 3, 1)
FEED_SHAPE = feedgen.FeedShape()
# lineitem is 6M x TABLE_SCALE rows (300k), where the three headliners spend
# most of their time in Spark jobs rather than on the driver.
TABLE_SCALE = 0.04
# Registry queries of the `queries` workload, run in this order: the
# round-loop operators (per-round job submission and checkpoint barriers),
# then scan/shuffle-bound headliners of bench.py as the contrast.
ITERATIVE = ["kmeans_train", "streaming_twap"]
HEADLINERS = ["pricing_summary", "flagship_royalties", "windowed_top_k"]

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "pass_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "jobs": "count", "stages": "count", "tasks": "count", "driver.gap_s": "s", "exec.run_s": "s",
    "exec.busy_s": "s", "exec.gc_s": "s", "exec.slot_util": "ratio", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "exec.input_bytes": "B",
    "exec.output_bytes": "B", "catalyst.plan_s": "s", "plan.exchanges": "count", "streaming.batches": "count",
    "trace.pass_s": "s",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.jvm = None  # the py4j gateway's JVM process
        self.cores = 0
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.ops: list[float] = []
        self.passes: list[float] = []
        self.t_start = 0.0
        self.setup_s = 0.0

    # -- session -----------------------------------------------------------
    def conf(self) -> dict[str, str]:
        c = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # The whole heap is committed and touched at start, so peak RSS
            # does not depend on when G1 happens to grow the heap.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData "
                                             f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            })
        return c

    def start(self) -> None:
        """Start the session, which launches the JVM, and run a first job.
        Set-up time counts from here."""
        from etl_pipeline_last_fm_spark.session import get_spark

        self.t_start = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf())
        self.jvm = self.spark.sparkContext._gateway.proc
        self.spark.range(1).count()
        _log(f"session start: {time.perf_counter() - self.t_start:.3f} s")
        self.cores = self.spark.sparkContext.defaultParallelism
        self.tracer = tracing.Tracer(self.spark.sparkContext, self.args.workload, bool(self.args.trace))
        if self.args.trace:
            self.tracer.listen_streaming(self.spark)

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.jvm is None:
            return
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        SparkContext._gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        self.jvm.wait(timeout=60)
        self.jvm = self.spark = None

    def peak_rss_mb(self) -> float:
        py, jvm = _vm_hwm_kb("self") / 1024.0, _vm_hwm_kb(self.jvm.pid) / 1024.0
        _log(f"peak RSS: python {py:.0f} MB, JVM {jvm:.0f} MB")
        return py + jvm

    # -- operations ----------------------------------------------------------
    def op(self, name: str, fn, traced: bool, attrs: dict | None = None) -> float:
        """Run one operation and count it; return its wall time, or -1 when
        it raised. Only traced operations record spans."""
        self.attempted += 1
        attrs = {} if attrs is None else attrs
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, attrs) if traced else self.tracer.paused():
                fn()
        except Exception as exc:  # noqa: BLE001 - the run goes on and reports the failure
            self.failed += 1
            self.problems.append(f"{name} {attrs}: {type(exc).__name__}: {str(exc)[:300]}")
            return -1.0
        took = time.perf_counter() - t0
        _log(f"{name} {attrs}: {took:.3f} s")
        return took

    def measure(self, run_pass) -> None:
        """End set-up (session start plus the untimed warm-up), then run
        whole passes until the next one would end past --seconds."""
        self.setup_s = time.perf_counter() - self.t_start
        _log(f"set-up: {self.setup_s:.3f} s")
        t_start = time.perf_counter()
        while True:
            self.passes.append(run_pass())
            elapsed = time.perf_counter() - t_start
            if elapsed + statistics.mean(self.passes) > self.args.seconds:
                break

    def check(self, problem: str | None) -> None:
        """Count one output check; ``problem`` is None when it passed."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.problems.append(problem)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def etl_daily(run: Run) -> None:
    """Seeded multi-day chart feed through the batch path into an empty
    warehouse, one day per operation."""
    from etl_pipeline_last_fm_spark import pipeline
    from etl_pipeline_last_fm_spark.sources.lastfm_api import fetch_charts
    from etl_pipeline_last_fm_spark.sources.raw_json import write_raw_chart

    feed = feedgen.chart_feed(run.args.seed, ETL_FIRST_DAY, ETL_MAX_DAYS, FEED_SHAPE)
    offered = {day: sum(len(d["tracks"]["track"]) for d in docs.values()) for day, docs in feed}
    run.start()
    spark, wh = run.spark, pipeline.Warehouse(os.path.join(run.work, "warehouse"))
    tr = run.tracer

    def day(i: int):
        date, docs = feed[i]

        def body():
            with tr.span("sources.land"):
                write_raw_chart(fetch_charts(spark, date, list(docs), fetch_fn=docs.__getitem__), wh.raw)
            with tr.span("pipeline.run_ods"):
                pipeline.run_ods(spark, wh, date)
            with tr.span("pipeline.run_dds"):
                pipeline.run_dds(spark, wh, date)
            with tr.span("pipeline.run_dm"):
                pipeline.run_dm(spark, wh, date)

        return date, body

    def counts() -> dict[str, int]:
        return checks.warehouse_counts(wh.root) if os.path.isdir(wh.ods) else {"ods": 0, "fact": 0}

    def timed_day(i: int, name: str) -> float:
        date, body = day(i)
        attrs = {"date": date}
        before = counts()
        t = run.op(name, body, traced=True, attrs=attrs)
        after = counts()
        attrs["ods_accept_ratio"] = (after["ods"] - before["ods"]) / offered[date]
        if name == "replay":
            # Re-running every layer on a loaded day must add no rows.
            run.check(None if before == after else f"replay of {date} changed row counts {before} -> {after}")
        run.ops.append(t)
        return t

    # Warm-up: the first ETL_WARMUP_DAYS days, the first one cold. A pass
    # replays the last loaded day, then loads ETL_PASS_DAYS new ones.
    for i in range(ETL_WARMUP_DAYS):
        run.op("warmup", day(i)[1], traced=False)
    loaded = ETL_WARMUP_DAYS

    def one_pass() -> float:
        nonlocal loaded
        total = timed_day(loaded - 1, "replay")
        for _ in range(ETL_PASS_DAYS):
            if loaded >= len(feed):
                raise RuntimeError("feed exhausted; raise ETL_MAX_DAYS")
            total += timed_day(loaded, "day")
            loaded += 1
        return total

    run.measure(one_pass)
    run.check("; ".join(checks.check_marts(feed[:loaded], wh.root)) or None)


def queries(run: Run) -> None:
    """Registry queries over seeded tables. The untimed, cold pass collects
    each result and compares it with the query's DuckDB oracle. Timed passes
    rebuild each query and write it to the noop sink."""
    import __spark_entry__ as entry

    tables = os.path.join(run.work, "tables")
    feedgen.write_tables(run.args.seed, tables, TABLE_SCALE)
    names = ITERATIVE + HEADLINERS
    run.start()
    qs, oracles, spark, tr = entry.queries(), entry.oracle_sql(), run.spark, run.tracer

    for name in names:
        run.op(name, lambda: checks.assert_matches_oracle(qs[name](spark, tables), oracles[name], tables, name),
               traced=False)

    def one_pass(traced: bool = True) -> float:
        total = 0.0
        for name in names:
            spark.catalog.clearCache()

            def body():
                with tr.span("registry.build"):
                    df = qs[name](spark, tables)
                with tr.span("exec.run"):
                    df.write.format("noop").mode("overwrite").save()

            t = run.op("query", body, traced=traced, attrs={"query": name})
            if traced:
                run.ops.append(t)
            total += t
        return total

    # The JIT is still compiling after the cold pass; one untimed pass more.
    one_pass(traced=False)
    run.measure(one_pass)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def end_to_end(run: Run) -> dict[str, float]:
    ok = [t for t in run.ops if t >= 0] or [0.0]
    return {
        "setup_s": run.setup_s,
        "op_s_p50": statistics.median(ok),
        "pass_s": statistics.median(run.passes),
        "peak_rss_mb": run.peak_rss_mb(),
    }


def per_layer(run: Run, records: list[dict]) -> dict[str, float]:
    ops = [r for r in records if r["parent"] is None and r["name"] in ("replay", "day", "query")]
    n = max(1, len(ops))

    def mean(key: str, scale: float = 1.0) -> float:
        return sum(r[key] for r in ops) / n * scale

    return {
        "jobs": mean("jobs"), "stages": mean("stages"), "tasks": mean("tasks"),
        "driver.gap_s": mean("driver_gap_s"), "exec.run_s": mean("exec_run_s"),
        "exec.busy_s": mean("busy_ms", 1e-3), "exec.gc_s": mean("gc_ms", 1e-3),
        "exec.slot_util": mean("slot_util"),
        "exec.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.spill_bytes": mean("spill_bytes"), "exec.input_bytes": mean("input_bytes"),
        "exec.output_bytes": mean("output_bytes"), "catalyst.plan_s": mean("plan_s"),
        "plan.exchanges": mean("exchanges"),
        "streaming.batches": mean("batches"), "trace.pass_s": statistics.median(run.passes),
    }


def layer_table(records: list[dict]) -> str:
    """Per layer-call means over the measured operations, for humans."""
    rows: dict[str, list[dict]] = {}
    for r in records:
        rows.setdefault(r["name"], []).append(r)
    lines = [f"{'span':<18}{'n':>4}{'wall_s':>9}{'self_s':>9}{'exec_s':>9}{'gap_s':>9}{'plan_s':>9}{'jobs':>7}{'exch':>6}"
             f"{'batches':>8}"]
    for name, rs in rows.items():
        n = len(rs)

        def m(k):
            return sum(r[k] for r in rs) / n

        lines.append(f"{name:<18}{n:>4}{m('wall_s'):>9.3f}{m('self_s'):>9.3f}{m('exec_run_s'):>9.3f}"
                     f"{m('driver_gap_s'):>9.3f}{m('plan_s'):>9.3f}{m('jobs'):>7.1f}{m('exchanges'):>6.1f}{m('batches'):>8.1f}")
    phases: dict[str, float] = {}
    for r in records:
        if r["parent"] is None:
            for k, v in r["streaming_ms"].items():
                phases[k] = phases.get(k, 0) + v
    if phases:
        lines.append("streaming durationMs, summed: " + ", ".join(f"{k}={v}" for k, v in sorted(phases.items())))
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep every file the run writes inside the checkout.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # glibc's per-thread malloc arenas make JVM RSS vary run to run; Hadoop's
    # launch scripts cap them the same way.
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    run = Run(args, work)
    try:
        try:
            {"etl_daily": etl_daily, "queries": queries}[args.workload](run)
            if not args.trace:
                metrics, units = end_to_end(run), END_TO_END
        finally:
            run.stop()
        if args.trace:
            # The event log is complete only once the context has stopped.
            events = tracing.read_event_log(os.path.join(work, "eventlog"))
            records = tracing.rollup(run.tracer.spans, events, run.tracer.progress, run.cores)
            out = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracing.write_spans(out, records)
            _log(layer_table(records))
            _log(f"spans written to {os.path.relpath(out, ROOT)}")
            metrics, units = per_layer(run, records), PER_LAYER
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    for problem in run.problems:
        _log(f"FAILED {problem}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
