"""processor_table_stream: events -> ``KStream.process`` with a Processor
that keeps a running count and integer sum per key in its store ->
``foreachBatch`` into ``KeyValueTableSink``.  The Python worker boundary
and the state blobs do the work.

Phases (``harness.stream_phases``): a backlog drain, one wave per
micro-batch, then restarts on the drain's checkpoint, each with one more
wave waiting.
"""

from __future__ import annotations

import glob
import os

from perfbench import checks, gen
from perfbench.trace import dir_mb
from perfbench.harness import stream_phases
from responsive_pub_spark.streaming import state

EVENTS_SCHEMA = "seq BIGINT, key BIGINT, value BIGINT, ts TIMESTAMP"
OUT_SCHEMA = "key LONG, cnt LONG, total LONG, ord LONG"
SHAPE = gen.ProcessorShape()


class RunningTotal(state.Processor):
    """Per key: running count and sum of ``value``, forwarded per record."""

    def process(self, ctx, rec):
        n = (ctx.store.get("n") or 0) + 1
        s = (ctx.store.get("s") or 0) + int(rec["value"])
        ctx.store.put("n", n)
        ctx.store.put("s", s)
        ctx.forward(key=int(rec["key"]), cnt=n, total=s, ord=n)


def drain_waves(seconds: int) -> int:
    """Backlog size: about ``seconds`` of drain at the steady rate
    measured on 4 cores (~0.5 waves/s), and never fewer than 5 batches."""
    return max(5, seconds // 2)


def stage_wave(seed: int, root: str, k: int) -> None:
    gen.processor_wave(seed, SHAPE, k, os.path.join(root, "events", f"wave-{k:05d}.parquet"))


def build(r, root: str, seed: int, n_waves: int, rnd: int):
    """Set-up round ``rnd``: stage the inputs under ``root`` and build the
    topology and its sink."""
    from responsive_pub_spark.api import Pipeline
    from responsive_pub_spark.streaming.kv_sink import KeyValueTableSink

    for k in range(n_waves):
        stage_wave(seed, root, k)
    with r.span("build.cold" if rnd == 0 else "build.warm"):
        events = (
            r.spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(root, "events"))
        )
        out = (
            Pipeline(r.spark)
            .stream(events, key="key")
            .process(RunningTotal, OUT_SCHEMA, order_by=("seq",))
            .df
        )
        # rows order by ``ord``, the running count, which rises strictly per key
        sink = KeyValueTableSink(os.path.join(root, "table"), ["key"], ["cnt", "total"], ts_col="ord")
    return out, sink


def _start(out, writer, root):
    return (
        out.writeStream.foreachBatch(writer)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )


def run(r) -> None:
    n_waves = drain_waves(r.seconds)
    root_of = lambda rnd: r.path(f"pt-{rnd}")  # noqa: E731

    out, sink = r.setup(lambda rnd: build(r, root_of(rnd), r.seed, n_waves, rnd))
    root = root_of(len(r.setup_times) - 1)
    writer = sink if r.tracer is None else r.tracer.wrap_sink(sink)

    stream_phases(r, lambda: _start(out, writer, root), lambda k: stage_wave(r.seed, root, k), n_waves)
    if r.tracer is not None:
        r.tracer.extra["spark.state.checkpoint_mb"] = dir_mb(os.path.join(root, "ck"))
        r.tracer.extra["streaming.kv_sink.deltas"] = len(glob.glob(os.path.join(sink.path, "delta-*")))

    table = sink.read(r.spark).toPandas()
    r.check("processor_table", checks.processor_table, os.path.join(root, "events", "*.parquet"), table)
