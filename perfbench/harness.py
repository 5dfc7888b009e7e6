"""What every workload shares: the run's scratch directory, the Spark
session, set-up timing, operation counts, peak memory and clean-up."""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from datetime import datetime

#: The checkout root: the directory above ``perfbench/``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Set-up rounds per run; ``setup_s`` is their median.
SETUP_ROUNDS = 5

#: Restarts per stream run; ``recovery_s`` is their median.
RESTARTS = 3

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class CheckFailed(AssertionError):
    """An output check found a wrong answer."""


class Run:
    """One benchmark invocation: ``--workload``, ``--seed``, ``--seconds``,
    ``--trace``.  Owns the scratch directory (one per run, removed at exit)
    and the Spark session."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
        # Python workers import the package from the checkout root; scratch
        # of Spark, the JVM and Python stays inside the run's directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        tempfile.tempdir = self.tmp
        self.spark = None
        self.setup_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.tracer = None

    # -- paths ---------------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    # -- session -------------------------------------------------------------
    def session(self):
        """A fresh SparkSession on ``local[cores]``: the first call launches
        the JVM, later calls stop the previous context and start a new one
        in the same JVM."""
        from responsive_pub_spark.session import build_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} "
            f"-Dderby.system.home={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            conf.update(self.tracer.spark_conf())
        with self.span("spark.session"):
            self.spark = build_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.attach(self.spark)
        return self.spark

    def setup(self, build):
        """Run ``build(round)`` SETUP_ROUNDS times, each on a fresh session,
        and record each round's wall time.  Returns the last round's value,
        which the timed phases use."""
        out = None
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.session()
            out = build(r)
            self.setup_times.append(time.perf_counter() - t0)
            log(f"set-up round {r}: {self.setup_times[-1]:.2f}s")
        return out

    def span(self, name: str):
        """A traced span around a block (nothing when untraced)."""
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    # -- accounting ----------------------------------------------------------
    def op(self, fn, *args, **kwargs):
        """Run one operation, counting it as attempted (and failed if it
        raises; the exception propagates)."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except BaseException:
            self.failed += 1
            raise

    def check(self, name: str, fn, *args) -> None:
        """One output check, counted as one operation; a failed check makes
        the run fail."""
        self.attempted += 1
        try:
            fn(*args)
            log(f"check {name}: ok")
        except CheckFailed as exc:
            self.failed += 1
            raise CheckFailed(f"{name}: {exc}") from None

    def metric(self, name: str, value: float, unit: str) -> None:
        self.e2e[name] = (float(value), unit)
        log(f"{name} = {value:.4g} {unit}")

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    # -- memory --------------------------------------------------------------
    def jvm_pid(self) -> "int | None":
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus that of its Spark JVM
        (the sum of the two high-water marks)."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.jvm_pid()
        if pid is not None:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    # -- result --------------------------------------------------------------
    def result(self) -> dict:
        """The JSON result: end-to-end metrics untraced, per-layer traced."""
        self.metric("setup_s", statistics.median(self.setup_times), "s")
        self.metric("peak_rss_mb", self.peak_rss_mb(), "MB")
        if self.tracer is not None:
            self.tracer.finish()
        chosen = self.layers if self.trace else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }

    def close(self) -> None:
        """Stop Spark and its JVM, wait for the JVM to end, and remove the
        run's scratch directory."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001 - the JVM may already be gone
                    pass
            if proc is not None:
                try:
                    proc.stdin.close()  # the gateway exits when stdin closes
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
            shutil.rmtree(self.tmp, ignore_errors=True)
            log("closed")


# -- streaming progress --------------------------------------------------------


def progress_list(query) -> list[dict]:
    """The query's recent progress events as dicts."""
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _iso_s(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def progress_end(p: dict) -> float:
    """Wall-clock epoch seconds at which a progress event's trigger ended."""
    return _iso_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def watermark_s(p: dict) -> float:
    """The watermark a progress event reports, as epoch seconds."""
    return _iso_s(p["eventTime"]["watermark"])


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def stream_phases(r, start, write_wave, n_waves: int) -> dict:
    """The phases of a stream workload whose waves ``0 .. n_waves - 1`` are
    staged, one micro-batch each: a drain on a fresh checkpoint, then
    RESTARTS restarts on that checkpoint, each with one more wave waiting
    (``write_wave(k)`` stages wave ``k``).  ``start()`` starts the query.
    Records ``cold_s`` (start to the first commit), ``steady_ms`` (median
    batch after the first) and ``recovery_s`` (median restart to its
    commit).  Returns the last progress event."""

    def one(expect: int):
        t0 = time.time()
        q = start()
        r.op(q.awaitTermination)
        progress = progress_list(q)
        batches = data_batches(progress)
        r.attempted += len(batches)
        if len(batches) != expect:
            r.failed += 1
            raise CheckFailed(f"{len(batches)} micro-batches for {expect} waves")
        return progress_end(batches[0]) - t0, batches, progress[-1]

    cold, drain, _ = one(n_waves)
    steady = [p["durationMs"]["triggerExecution"] for p in drain[1:]]
    rows = sum(p["numInputRows"] for p in drain[1:])
    log(f"drain: {len(drain)} batches, {1000.0 * rows / sum(steady):.0f} rows/s after the first")
    recovery = []
    for k in range(n_waves, n_waves + RESTARTS):
        write_wave(k)
        secs, _, last = one(1)
        recovery.append(secs)
    r.metric("cold_s", cold, "s")
    r.metric("steady_ms", statistics.median(steady), "ms")
    r.metric("recovery_s", statistics.median(recovery), "s")
    return last
