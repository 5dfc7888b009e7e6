"""neardup_stream: waves of documents -> ``NearDupStreaming.advance()``,
the incremental near-dup lane: three chained checkpointed queries per wave
(signatures, band buckets, verification), each a cold restart from its
checkpoint, plus the stamped hand-off of the drops changelog.

Phases: the first advance on fresh checkpoints, then one advance per
further wave.  Every advance restarts from the checkpoints, so the
restart path is the steady path.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks, gen

SHAPE = gen.NearDupShape()


def n_waves(seconds: int) -> int:
    """Waves: the first advance and at least two steady ones (each ~7 s
    on 4 cores), one more per two ``seconds`` beyond four."""
    return max(3, 1 + seconds // 2)


def build(r, root: str, seed: int, waves: int):
    from responsive_pub_spark.streaming.dedup_stream import NearDupStreaming

    rows = gen.neardup_waves(seed, SHAPE, waves)
    lane = NearDupStreaming(r.spark, os.path.join(root, "lane"), probe_depth=None)
    return lane, rows


def run(r) -> None:
    from responsive_pub_spark.operators import dedup

    waves = n_waves(r.seconds)
    root_of = lambda rnd: r.path(f"nd-{rnd}")  # noqa: E731
    lane, rows = r.setup(lambda rnd: build(r, root_of(rnd), r.seed, waves))

    times = []
    for k, wave in enumerate(rows):
        gen.write_neardup_wave(wave, os.path.join(lane.docs_dir, f"wave-{k:05d}.parquet"))
        t0 = time.perf_counter()
        r.op(lane.advance)
        times.append(time.perf_counter() - t0)
    r.metric("cold_s", times[0], "s")
    r.metric("steady_ms", statistics.median(times[1:]) * 1000.0, "ms")
    # every advance restarts from the checkpoints with one wave waiting
    r.metric("recovery_s", times[-1], "s")

    verdicts = lane.verdicts().toPandas()
    r.check(
        "neardup",
        checks.neardup,
        os.path.join(lane.docs_dir, "*.parquet"),
        verdicts,
        gen.exact_copy_ids(rows),
        dedup.greedy_keep_oracle(),
    )
