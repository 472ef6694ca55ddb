"""Spark side of one benchmark run (started by run.py, never directly).

Sets up the session three times, runs the workload, checks its outputs
and writes one JSON result file. With ``--trace 1`` it also
records spans and status-store stage totals and writes the spans next
to the result.

Usage: worker.py WORKLOAD SEED SECONDS TRACE INPUT_DIR WORK_DIR OUT_FILE
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

import workloads as W
from metrics import EXEC_FIELDS, per_layer_names
from spans import Tracer, add_totals, empty_totals, stage_totals

SETUPS = 3
BATCH_PASSES = 3

# stream_keyed sizes. Closed loop: fixed rows per micro-batch; the
# first batch of each run is cold and excluded from throughput.
WINDOW_ROWS, WINDOW_BATCHES = 100_000, 3
JOIN_ROWS, JOIN_BATCHES = 500_000, 4
LAG_ROWS, LAG_BATCHES = 100_000, 3
JOIN_CHECK_ROWS, JOIN_CHECK_BATCHES = 20_000, 2
# Open loop: the rate source's offered rate for the window latency run,
# pinned well below the window pipeline's capacity on a 4-core host.
WINDOW_OFFERED_ROWS_PER_S = 100_000
MIN_LATENCY_BATCHES = 5
STREAM_MAX_WAIT_S = 60.0


class Run:
    """State of one run: the session, failures, metrics and spans."""

    def __init__(self, seed: int, seconds: int, trace: bool,
                 input_dir: str, work_dir: str) -> None:
        self.seed, self.seconds = seed, seconds
        self.tracer = Tracer() if trace else None
        self.input_dir, self.work_dir = input_dir, work_dir
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict = {}
        self.layer = {n: 0 for n in per_layer_names()}
        self.nulls: dict[str, str] = {}
        self.detail: dict = {}
        self.spark = None
        self.exec_totals = empty_totals()

    # -- session ------------------------------------------------------

    def setup(self) -> None:
        """Start the session and warm it, SETUPS times; the JVM is
        launched by the first start only."""
        from rstreams_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        starts, warms, totals = [], [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            warm(self.spark, self.work_dir)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            totals.append(t2 - t0)
        self.e2e["setup_s"] = statistics.median(totals)
        self.layer["session.cold_start_s"] = starts[0]
        self.layer["session.start_s"] = statistics.median(starts)
        self.layer["session.warm_s"] = statistics.median(warms)
        sc = self.spark.sparkContext
        self.detail["host"] = {
            "nproc": len(os.sched_getaffinity(0)),
            "default_parallelism": sc.defaultParallelism,
            "ram_gb": round(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30, 1),
            "master": sc.master,
        }

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"# FAILED {what}", file=sys.stderr, flush=True)

    def group_jobs(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # -- batch --------------------------------------------------------

    def run_batch(self, names: list[str]) -> None:
        """Three passes over ``names``. The first runs every query for the
        first time in the session and the second repeats it, so code
        generation and JIT compilation settle; only the third is timed
        (and traced). Every pass's outputs are checked, untimed."""
        from rstreams_spark.queries import REGISTRY

        sc = self.spark.sparkContext
        pins = W.load_pins()
        self.attempted = len(names)
        failed: set[str] = set()
        pass_walls = []
        for i in range(BATCH_PASSES):
            timed = i == BATCH_PASSES - 1
            results, walls = {}, []
            t_pass = time.perf_counter()
            for q in names:
                try:
                    t0 = time.perf_counter()
                    if timed and self.tracer is not None:
                        results[q] = self.traced_query(sc, REGISTRY[q], q)
                    else:
                        results[q] = REGISTRY[q](self.spark, self.input_dir).toPandas()
                    walls.append(time.perf_counter() - t0)
                except Exception as exc:
                    traceback.print_exc()
                    failed.add(q)
                    print(f"# {q}: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)
            pass_walls.append(round(time.perf_counter() - t_pass, 3))
            for q, df in results.items():
                if W.output_digest(df) != pins[q]:
                    failed.add(q)
                    print(f"# {q}: output digest differs from the oracle-checked pin",
                          file=sys.stderr)
        for q in sorted(failed):
            self.fail(f"{q}: errored or differs from the oracle-checked pin")
        self.detail["pass_walls_s"] = pass_walls
        self.detail["query_wall_s"] = dict(zip(results, [round(w, 4) for w in walls]))
        if len(results) == len(names):
            self.set_pass(pass_walls[-1], "")
            self.set_latency(np.array(walls) * 1000.0, None)
        else:
            self.set_pass(None, "a query of the timed pass failed")
            self.nulls["latency_ms_p50"] = self.nulls["latency_ms_p90"] = (
                "a query of the timed pass failed")

    def traced_query(self, sc, build, q: str):
        tr = self.tracer
        with tr.span("query", q) as root:
            sc.setJobGroup(f"build:{q}", q)
            with tr.span("queries.build", q, root) as s_build:
                df = build(self.spark, self.input_dir)
            with tr.span("plans.plan", q, root) as s_plan:
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"exec:{q}", q)
            with tr.span("exec", q, root) as s_exec:
                pdf = df.toPandas()
            build_jobs = len(self.group_jobs(f"build:{q}"))
            tot = stage_totals(sc, self.group_jobs(f"exec:{q}"))
        b = tr.duration(s_build)
        self.layer["queries.build_s"] += b
        self.layer[f"queries.{q}.build_s"] = b
        self.layer["queries.build_jobs"] += build_jobs
        self.detail.setdefault("build_jobs", {})[q] = build_jobs
        self.layer["plans.plan_s"] += tr.duration(s_plan)
        self.layer["exec.wall_s"] += tr.duration(s_exec)
        self.layer[f"exec.{q}.wall_s"] = tr.duration(s_exec)
        add_totals(self.exec_totals, tot)
        return pdf

    # -- stream -------------------------------------------------------

    def run_stream(self) -> None:
        from pyspark.sql import functions as F

        from rstreams_spark.sources.files import stream_rate, stream_rate_micro_batch
        from rstreams_spark.streaming.joins import stream_table_join
        from rstreams_spark.streaming.stateful import stream_lag_window
        from rstreams_spark.streaming.windows import stream_tumbling_window

        spark, seed = self.spark, self.seed
        dim = W.key_dimension(spark, seed)

        def closed(rows):
            src = stream_rate_micro_batch(spark, rows, num_partitions=4)
            return W.keyed_events(src, seed, rows, keep_id=True)

        def windows(ev):
            return stream_tumbling_window(
                ev, "key", "ts", W.WINDOW, F.count("*").alias("n"),
                F.sum("v").alias("s"), watermark=W.WATERMARK,
            )

        def lag(ev):
            return stream_lag_window(ev.select("key", "ts", "v"), "key", "ts", W.LAG, "v")

        def joins(ev):
            return stream_table_join(ev.drop("created"), "key", dim, "dkey")

        t0 = time.perf_counter()
        plans = {
            "windows": (windows(closed(WINDOW_ROWS)), WINDOW_ROWS, WINDOW_BATCHES, "memory"),
            "joins": (joins(closed(JOIN_ROWS)), JOIN_ROWS, JOIN_BATCHES, "noop"),
            "stateful": (lag(closed(LAG_ROWS)), LAG_ROWS, LAG_BATCHES, "memory"),
        }
        join_check = joins(closed(JOIN_CHECK_ROWS))
        open_loop = windows(W.keyed_events(
            stream_rate(spark, WINDOW_OFFERED_ROWS_PER_S), seed, WINDOW_OFFERED_ROWS_PER_S,
        ))
        self.layer["queries.build_s"] = time.perf_counter() - t0

        trigger_s, rates = 0.0, {}
        for name, (df, rows, batches, sink) in plans.items():
            self.attempted += 1
            run = self.stream_query(df, name, sink, batches)
            warm = run["progress"][1:batches]
            if len(warm) < batches - 1:
                self.fail(f"{name}: {len(warm) + 1} of {batches} batches in {STREAM_MAX_WAIT_S} s")
                continue
            ms = sum(p["durationMs"]["triggerExecution"] for p in warm)
            trigger_s += ms / 1000.0
            rates[name] = sum(p["numInputRows"] for p in warm) / (ms / 1000.0)
            self.stream_layers(name, run, warm)
            if sink == "memory":
                self.check_stream(name, run["output"], rows, batches)
        self.detail["rows_per_s"] = {k: round(v) for k, v in rates.items()}
        self.set_pass(trigger_s if len(rates) == len(plans) else None,
                      "a closed-loop pipeline missed its batch count")

        self.attempted += 1
        run = self.stream_query(join_check, "joins_check", "memory", JOIN_CHECK_BATCHES)
        self.check_stream("joins", run["output"], JOIN_CHECK_ROWS, JOIN_CHECK_BATCHES)

        self.attempted += 1
        self.latency_run(open_loop)

    def stream_query(self, df, name: str, sink: str, batches: int,
                     min_seconds: float = 0.0) -> dict:
        """Run ``df`` until ``batches`` data batches have committed (and
        ``min_seconds`` have passed since the first one), then stop."""
        import tempfile

        ckpt = tempfile.mkdtemp(prefix=f"{name}_", dir=os.path.join(self.work_dir, "ckpt"))
        writer = df.writeStream.format(sink).outputMode("append").option("checkpointLocation", ckpt)
        table = f"perfbench_{name}"
        if sink == "memory":
            writer = writer.queryName(table)
        t_start = time.perf_counter()
        q = writer.start()
        deadline = time.perf_counter() + STREAM_MAX_WAIT_S
        first = None
        try:
            while time.perf_counter() < deadline:
                data = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if data and first is None:
                    first = time.perf_counter()
                if len(data) >= batches and time.perf_counter() - first >= min_seconds:
                    break
                if q.exception() is not None:
                    break
                time.sleep(0.05)
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            error = q.exception()
        finally:
            q.stop()
            q.awaitTermination(30)
        if error is not None:
            self.fail(f"{name}: {error}"[:400])
        print(f"# {name}: {time.perf_counter() - t_start:.2f}s", file=sys.stderr, flush=True)
        run = {"progress": progress, "run_id": str(q.runId), "ckpt": ckpt, "output": None}
        if sink == "memory":
            run["output"] = self.spark.table(table).toPandas()
            self.spark.catalog.dropTempView(table)
        return run

    def stream_layers(self, name: str, run: dict, warm: list[dict]) -> None:
        """Per-pipeline layer sums over the warm triggers."""
        pre = f"streaming.{name}."
        d = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
        self.layer[pre + "trigger_ms"] = sum(d(p, "triggerExecution") for p in warm)
        self.layer[pre + "add_batch_ms"] = sum(d(p, "addBatch") for p in warm)
        self.layer[pre + "planning_ms"] = sum(d(p, "queryPlanning") for p in warm)
        self.layer[pre + "commit_ms"] = sum(d(p, "walCommit") + d(p, "commitOffsets") for p in warm)
        self.layer["sources.latest_offset_ms"] += sum(d(p, "latestOffset") for p in warm)
        self.layer["exec.wall_s"] += self.layer[pre + "add_batch_ms"] / 1000.0
        self.layer["plans.plan_s"] += self.layer[pre + "planning_ms"] / 1000.0
        ops = [p["stateOperators"][0] for p in warm if p["stateOperators"]]
        if ops and name != "joins":
            self.layer[pre + "state_rows"] = ops[-1]["numRowsTotal"]
            self.layer[pre + "state_bytes"] = ops[-1]["memoryUsedBytes"]
            self.layer[pre + "state_commit_ms"] = sum(o["commitTimeMs"] for o in ops)
            self.layer[pre + "state_update_ms"] = sum(o["allUpdatesTimeMs"] for o in ops)
            self.layer[pre + "late_rows_dropped"] = sum(o["numRowsDroppedByWatermark"] for o in ops)
        if self.tracer is None:
            return
        for p in warm:
            self.trigger_spans(name, p)
        ids = {p["batchId"] for p in warm}
        tot = stage_totals(self.spark.sparkContext, self.group_jobs(run["run_id"]), ids.__contains__)
        self.layer[pre + "executor_run_s"] = tot["executor_run_s"]
        self.layer[pre + "executor_cpu_s"] = tot["executor_cpu_s"]
        self.layer[pre + "shuffle_write_bytes"] = tot["shuffle_write_bytes"]
        add_totals(self.exec_totals, tot)

    def trigger_spans(self, name: str, p: dict) -> None:
        """One span per trigger with its durationMs phases as children,
        laid out in execution order from the trigger's start."""
        tid = f"{name}:{p['batchId']}"
        start = W.iso_ms(p["timestamp"]) / 1000.0
        total = p["durationMs"]["triggerExecution"] / 1000.0
        root = self.tracer.add("streaming.trigger", start, start + total, tid)
        t = start
        for phase in ("latestOffset", "walCommit", "queryPlanning", "getBatch",
                      "addBatch", "commitOffsets"):
            ms = p["durationMs"].get(phase)
            if ms is not None:
                self.tracer.add(f"streaming.{phase}", t, t + ms / 1000.0, tid, root)
                t += ms / 1000.0

    def check_stream(self, name: str, out, rows: int, batches: int) -> None:
        """Compare a memory-sink output with the pandas reference over
        the same deterministic rate-micro-batch input."""
        t0 = time.perf_counter()
        n = (batches + 2) * rows
        src = self.spark.range(n).withColumnRenamed("id", "value")
        events = W.keyed_events(src, self.seed, rows, keep_id=True).toPandas()
        if name == "windows":
            err = W.check_windows(out, events)
        elif name == "stateful":
            err = W.check_lag(out, events, rows)
        else:
            dim = W.key_dimension(self.spark, self.seed).toPandas()
            err = W.check_join(out, events, dim, rows)
        print(f"# check {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr, flush=True)
        if err is not None:
            self.fail(f"{name}: {err}")

    def latency_run(self, df) -> None:
        """Open loop: the rate source offers a fixed rate whatever the
        engine does; latency is derived from its offsets (creation
        seconds) and the progress timestamps, so no job is added."""
        rate = WINDOW_OFFERED_ROWS_PER_S
        run = self.stream_query(df, "windows_latency", "noop", MIN_LATENCY_BATCHES,
                                min_seconds=self.seconds)
        warm = run["progress"][1:]
        if len(warm) < MIN_LATENCY_BATCHES - 1:
            self.fail(f"windows_latency: {len(warm) + 1} data batches")
            self.nulls["latency_ms_p50"] = self.nulls["latency_ms_p90"] = "too few data batches"
            return
        with open(os.path.join(run["ckpt"], "sources", "0", "0")) as fh:
            created_ms = int(fh.read().split()[-1])
        lat, w = W.event_latencies_ms(warm, created_ms, rate)
        self.set_latency(lat, w)
        backlog = []
        for p in warm:
            commit = W.iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
            available = int((commit - created_ms) // 1000)
            backlog.append((available - int(p["sources"][0]["endOffset"])) * rate)
        self.layer["sources.backlog_rows"] = max(backlog)
        self.layer["sources.latest_offset_ms"] += sum(
            p["durationMs"].get("latestOffset", 0) for p in warm)
        self.detail["latency_batches"] = [
            [p["sources"][0]["startOffset"], p["sources"][0]["endOffset"],
             p["durationMs"]["triggerExecution"],
             round(W.iso_ms(p["timestamp"]) - created_ms)]
            for p in run["progress"]
        ]

    def set_pass(self, seconds: float | None, why_missed: str) -> None:
        """Record ``pass_s`` (``trace.pass_s`` in the traced run), or a
        null with the reason when the pass did not complete."""
        name = "pass_s" if self.tracer is None else "trace.pass_s"
        if seconds is None:
            self.nulls[name] = why_missed
        elif self.tracer is None:
            self.e2e[name] = seconds
        else:
            self.layer[name] = seconds

    def set_latency(self, lat: np.ndarray, w) -> None:
        if self.tracer is not None:
            return
        if w is None:
            w = np.ones_like(lat)
        self.e2e["latency_ms_p50"] = W.weighted_quantile(lat, w, 0.5)
        self.e2e["latency_ms_p90"] = W.weighted_quantile(lat, w, 0.9)

    # -- result -------------------------------------------------------

    def finish(self) -> dict:
        t = self.exec_totals
        for f in EXEC_FIELDS:
            if f == "python_gap_s":
                self.layer["exec.python_gap_s"] = t["executor_run_s"] - t["executor_cpu_s"]
            else:
                self.layer[f"exec.{f}"] = t[f]
        self.layer["sources.input_bytes"] = t["input_bytes"]
        self.layer["sources.input_rows"] = t["input_rows"]
        metrics = self.layer if self.tracer is not None else self.e2e
        for k in self.nulls:
            metrics[k] = None
        return {
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": self.failures,
            "metrics": metrics,
            "null_reasons": self.nulls,
            "detail": self.detail,
        }


def warm(spark, work_dir: str) -> None:
    """Session warm-up: a parquet write and read-back, a shuffle into a
    Python worker round trip, and an Arrow collect to pandas, so the
    session's first-use costs of those paths are paid here."""
    path = os.path.join(work_dir, "warm.parquet")
    spark.range(1000).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).repartition(4).mapInPandas(lambda it: it, "id long").toPandas()


def main() -> int:
    workload, seed, seconds, trace, input_dir, work_dir, out_file = sys.argv[1:8]
    run = Run(int(seed), int(seconds), trace == "1", input_dir, work_dir)
    os.makedirs(os.path.join(work_dir, "ckpt"), exist_ok=True)
    t0 = time.perf_counter()
    run.setup()
    t1 = time.perf_counter()
    if workload in W.BATCH_WORKLOADS:
        run.run_batch(W.BATCH_WORKLOADS[workload])
    else:
        run.run_stream()
    run.detail["phase_s"] = {"setups": round(t1 - t0, 2), "workload": round(time.perf_counter() - t1, 2)}
    result = run.finish()
    if run.tracer is not None:
        run.tracer.write(os.path.splitext(out_file)[0] + ".spans.json")
    with open(out_file, "w") as fh:
        json.dump(result, fh)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
