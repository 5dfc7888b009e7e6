"""The traced run: per-layer figures, taken from the benchmark's own code.

Nothing inside the package is instrumented.  The tracer
  * wraps public functions of the package (``read_table``,
    ``scoped_persist``) and the ``KeyValueTableSink`` handed to
    ``foreachBatch``, timing and counting each call;
  * counts py4j round trips by wrapping the gateway client;
  * registers a ``StreamingQueryListener`` for streaming progress events;
  * reads task metrics from Spark's event log after the last session stops;
  * keeps spans (name, start, end, parent) in memory and writes them once,
    at the end, to ``.perfbench_tmp/traces/``.

Every traced run reports every metric in ``LAYERS``; a layer that a
workload does not reach reads 0 (only counts, sizes and shares can).
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.harness import ROOT, log

#: Public functions timed and counted in every module that holds them.
WRAPPED = (
    ("sources.read_table", "responsive_pub_spark.sources.readers", "read_table"),
    ("cache.scoped_persist", "responsive_pub_spark.cache", "scoped_persist"),
)

#: SQL metrics of the Python runners, in bytes.
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")

#: name -> unit of every per-layer metric, in report order.
LAYERS = {
    "spark.jvm_start_s": "s",
    "driver.build_cold_s": "s",
    "driver.build_warm_s": "s",
    "driver.py4j_calls_cold": "count",
    "driver.py4j_calls": "count",
    "sources.read_table_calls": "count",
    "sources.read_table_pct": "%",
    "cache.persist_calls": "count",
    "cache.reuse_pct": "%",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_mb": "MB",
    "spark.stream.batches": "count",
    "spark.stream.planning_pct": "%",
    "spark.stream.offsets_pct": "%",
    "spark.stream.add_batch_pct": "%",
    "spark.stream.commit_pct": "%",
    "spark.state.commit_pct": "%",
    "spark.state.update_pct": "%",
    "spark.state.rows": "count",
    "spark.state.mb": "MB",
    "spark.state.dropped_late": "count",
    "spark.state.checkpoint_mb": "MB",
    "streaming.kv_sink.write_pct": "%",
    "streaming.kv_sink.deltas": "count",
    "traced.setup_s": "s",
    "traced.cold_s": "s",
    "traced.steady_ms": "ms",
    "traced.recovery_s": "s",
}


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class Tracer:
    def __init__(self, run):
        self.run = run
        self.spans: list[tuple[str, float, float, "str | None"]] = []
        self._stack: list[str] = []
        self.py4j = 0
        self.py4j_in: dict[str, int] = defaultdict(int)
        self.pooled = 0
        self.sink_calls: list[tuple[int, float]] = []
        self.progress: list[dict] = []
        #: figures only a workload can take (checkpoint size, sink deltas)
        self.extra: dict[str, float] = {}
        self.event_dir = run.path("eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        self._client = None
        self._wrap_functions()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        calls0 = self.py4j
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, t0, t1, parent))
            self.py4j_in[name] += self.py4j - calls0

    def durations(self, name: str, parent: "str | None" = ...) -> list[float]:
        return [t1 - t0 for n, t0, t1, p in self.spans if n == name and (parent is ... or p == parent)]

    # -- wrapping ------------------------------------------------------------
    def _wrap_functions(self) -> None:
        importlib.import_module("responsive_pub_spark.registry")  # loads the operators
        for label, mod_name, attr in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrapper(label, orig)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("responsive_pub_spark") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapper)

    def _wrapper(self, label: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(label):
                out = fn(*args, **kwargs)
            if label == "cache.scoped_persist" and args and out is not args[0]:
                self.pooled += 1  # a pooled DataFrame came back
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def wrap_sink(self, sink):
        """The callable handed to ``foreachBatch`` in place of ``sink``:
        times each batch's call into the ``KeyValueTableSink``."""

        def call(bdf, batch_id):
            t0 = time.perf_counter()
            with self.span("streaming.kv_sink.write"):
                sink(bdf, batch_id)
            self.sink_calls.append((int(batch_id), time.perf_counter() - t0))

        return call

    # -- session hooks ---------------------------------------------------------
    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def attach(self, spark) -> None:
        """Count py4j round trips and listen to streaming progress."""
        from pyspark.sql.streaming import StreamingQueryListener

        client = spark.sparkContext._gateway._gateway_client
        if client is not self._client:
            orig = client.send_command

            def send_command(*args, **kwargs):
                self.py4j += 1
                return orig(*args, **kwargs)

            client.send_command = send_command
            self._client = client

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # -- layer figures ---------------------------------------------------------
    def finish(self) -> None:
        """Record every per-layer metric and write the spans.  Stops the
        session: its event log is complete only then."""
        r = self.run
        mx = r.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())
        py4j_total = self.py4j
        r.spark.stop()
        r.spark = None
        ev = event_log_totals(self.event_dir)

        cold = self.durations("build.cold")
        warm = self.durations("build.warm")
        n_warm = len(self.durations("pass.warm")) or len(warm) or 1
        persists = len(self.durations("cache.scoped_persist"))
        fig = {
            "spark.jvm_start_s": self.durations("spark.session")[0],
            "driver.build_cold_s": sum(cold),
            "driver.build_warm_s": sum(warm) / n_warm,
            "driver.py4j_calls_cold": self.py4j_in["build.cold"],
            "driver.py4j_calls": py4j_total,
            "sources.read_table_calls": len(self.durations("sources.read_table")),
            "sources.read_table_pct": 100.0 * sum(self.durations("sources.read_table", "build.cold"))
            / (sum(cold) or 1.0),
            "cache.persist_calls": persists,
            "cache.reuse_pct": 100.0 * self.pooled / persists if persists else 0.0,
            "spark.jobs": ev["jobs"],
            "spark.stages": ev["stages"],
            "spark.tasks": ev["tasks"],
            "spark.exec_s": ev["job_ms"] / 1000.0,
            "spark.task_run_s": ev["run_ms"] / 1000.0,
            "spark.task_cpu_s": ev["cpu_ns"] / 1e9,
            "spark.gc_s": gc_ms / 1000.0,
            "spark.shuffle_mb": ev["shuffle_bytes"] / 2**20,
            "spark.spill_mb": ev["spill_bytes"] / 2**20,
            "spark.python_mb": ev["python_bytes"] / 2**20,
        }
        fig.update(self._stream_figures())
        fig.update(self.extra)
        for name, (value, _unit) in r.e2e.items():
            if f"traced.{name}" in LAYERS:
                fig[f"traced.{name}"] = value
        for name, unit in LAYERS.items():
            r.layer(name, fig.get(name, 0.0), unit)

        out_dir = os.path.join(ROOT, ".perfbench_tmp", "traces")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{r.workload}-seed{r.seed}.json")
        with open(out, "w") as fh:
            json.dump({"spans": self.spans, "progress": self.progress}, fh)
        log(f"spans and progress events written to {os.path.relpath(out, ROOT)}")

    def _stream_figures(self) -> dict:
        """Shares of the steady micro-batches' trigger time per phase.  The
        steady batches are the data batches of each query run after its
        first, i.e. the drain's batches after the cold one."""
        by_run: dict[str, list[dict]] = defaultdict(list)
        for p in self.progress:
            if p.get("numInputRows", 0) > 0:
                by_run[p["runId"]].append(p)
        if not by_run:
            return {}
        steady = [p for ps in by_run.values() for p in sorted(ps, key=lambda p: p["batchId"])[1:]]
        trig_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in steady) or 1.0

        def pct(*keys):
            return 100.0 * sum(p["durationMs"].get(k, 0) for p in steady for k in keys) / trig_ms

        ops = [o for p in steady for o in p.get("stateOperators", [])]
        # state times add up over the operator's partitions, which run in
        # parallel: take them as a share of partitions x trigger time
        part_ms = sum(
            o.get("numShufflePartitions", 1) * p["durationMs"].get("triggerExecution", 0)
            for p in steady
            for o in p.get("stateOperators", [])
        ) or 1.0
        last = self.progress[-1].get("stateOperators", [])
        steady_ids = {p["batchId"] for p in steady}
        sink_s = sum(s for bid, s in self.sink_calls if bid in steady_ids)
        return {
            "spark.stream.batches": sum(len(ps) for ps in by_run.values()),
            "spark.stream.planning_pct": pct("queryPlanning"),
            "spark.stream.offsets_pct": pct("latestOffset", "getBatch", "walCommit"),
            "spark.stream.add_batch_pct": pct("addBatch"),
            "spark.stream.commit_pct": pct("commitOffsets"),
            "spark.state.commit_pct": 100.0 * sum(o.get("commitTimeMs", 0) for o in ops) / part_ms,
            "spark.state.update_pct": 100.0 * sum(o.get("allUpdatesTimeMs", 0) for o in ops) / part_ms,
            "spark.state.rows": sum(o.get("numRowsTotal", 0) for o in last),
            "spark.state.mb": sum(o.get("memoryUsedBytes", 0) for o in last) / 2**20,
            "spark.state.dropped_late": sum(
                o.get("numRowsDroppedByWatermark", 0) for p in self.progress for o in p.get("stateOperators", [])
            ),
            "streaming.kv_sink.write_pct": 100.0 * sink_s / (trig_ms / 1000.0),
        }


def event_log_totals(event_dir: str) -> dict:
    """Sums over every application's event log in ``event_dir``."""
    tot: dict[str, float] = defaultdict(float)
    job_start: dict = {}
    for path in glob.glob(os.path.join(event_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tot["jobs"] += 1
                    job_start[(path, ev["Job ID"])] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    t0 = job_start.get((path, ev["Job ID"]))
                    if t0 is not None:
                        tot["job_ms"] += ev["Completion Time"] - t0
                elif kind == "SparkListenerStageCompleted":
                    tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tot["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                    tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_BYTES:
                            tot["python_bytes"] += float(acc.get("Update") or 0)
    return tot
