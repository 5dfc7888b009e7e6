"""window_join_stream: events -> join(KTable users) -> tumbling window with
grace, suppressed until the window closes, with a count and an integer
sum.  The JVM state store, the watermark and per-batch coordination do the
work; no Python worker runs.

Phases (``harness.stream_phases``): a backlog drain, one wave per
micro-batch, then restarts on the drain's checkpoint, each with one more
wave waiting.
"""

from __future__ import annotations

import os

from perfbench import checks, gen
from perfbench.trace import dir_mb
from perfbench.harness import stream_phases, watermark_s

EVENTS_SCHEMA = "event_id BIGINT, user_id BIGINT, value BIGINT, ts TIMESTAMP"
SHAPE = gen.WindowJoinShape()


def drain_waves(seconds: int) -> int:
    """Backlog size: about ``seconds`` of drain at the steady rate
    measured on 4 cores (~0.8 waves/s), and never fewer than 4 batches."""
    return max(4, seconds)


def stage_wave(seed: int, root: str, k: int) -> None:
    gen.window_wave(seed, SHAPE, k, os.path.join(root, "events", f"wave-{k:05d}.parquet"))


def build(r, root: str, seed: int, n_waves: int, rnd: int):
    """Set-up round ``rnd``: stage the inputs under ``root`` and build the
    topology.  Returns the output DataFrame and its output mode."""
    from pyspark.sql import functions as F

    from responsive_pub_spark.api import Pipeline, output_mode_for
    from responsive_pub_spark.windows import TimeWindows

    gen.window_users(seed, SHAPE, os.path.join(root, "users.parquet"))
    for k in range(n_waves):
        stage_wave(seed, root, k)
    with r.span("build.cold" if rnd == 0 else "build.warm"):
        pipe = Pipeline(r.spark)
        events = (
            r.spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(root, "events"))
        )
        users = pipe.table(os.path.join(root, "users.parquet"), key="user_id")
        out = (
            pipe.stream(events, key="user_id")
            .join(users)
            .group_by_key()
            .windowed_by(TimeWindows.of_size_and_grace(SHAPE.window_s, SHAPE.grace_s))
            .suppress_until_window_closes()
            .agg(F.count("*").alias("cnt"), F.sum(F.col("value") * F.col("tier")).alias("total"))
        )
    return out, output_mode_for(out)


def _start(out, mode, root):
    return (
        out.writeStream.format("parquet")
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .option("path", os.path.join(root, "out"))
        .trigger(availableNow=True)
        .start()
    )


def run(r) -> None:
    n_waves = drain_waves(r.seconds)
    root_of = lambda rnd: r.path(f"wj-{rnd}")  # noqa: E731

    out, mode = r.setup(lambda rnd: build(r, root_of(rnd), r.seed, n_waves, rnd))
    root = root_of(len(r.setup_times) - 1)

    last = stream_phases(r, lambda: _start(out, mode, root), lambda k: stage_wave(r.seed, root, k), n_waves)
    final_wm = watermark_s(last)
    if r.tracer is not None:
        r.tracer.extra["spark.state.checkpoint_mb"] = dir_mb(os.path.join(root, "ck"))

    result = r.spark.read.parquet(os.path.join(root, "out")).toPandas()
    r.check(
        "window_join",
        checks.window_join,
        os.path.join(root, "events"),
        os.path.join(root, "users.parquet"),
        result,
        final_wm,
        SHAPE,
    )
