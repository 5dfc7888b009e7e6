"""Seeded input generator: the same seed gives byte-identical files.

Every stream input is a sequence of *waves*, one parquet file per wave,
written with pyarrow (no Spark involved), so the program under test
receives only these files.  Event times are written as UTC-adjusted
microsecond timestamps (``timestamp[us, tz=UTC]``): Spark reads them as
TIMESTAMP, which ``withWatermark`` accepts.  Pandas nanosecond columns
would read as BIGINT under the engine's ``nanosAsLong`` session setting,
and naive timestamps as TIMESTAMP_NTZ, which ``withWatermark`` rejects.

The make-up of each input is recorded in ``perfbench/README.md``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Event time of the first wave: 2023-11-14T22:13:20Z, far from the epoch.
T0_S = 1_700_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # no statistics/timestamps that vary between writes: byte-identical files
    pq.write_table(table, path, compression="snappy", write_statistics=False)


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, a: float) -> np.ndarray:
    """Zipf-skewed keys in [0, n_keys): rank r has weight 1/r**a, and ranks
    are scattered over the id space so hot keys land in different shuffle
    partitions."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** a
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    perm = np.random.default_rng(12345).permutation(n_keys)
    return perm[ranks].astype(np.int64)


def _ts_col(seconds: np.ndarray) -> pa.Array:
    micros = np.round(seconds * 1_000_000).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us", tz="UTC"))


# ---------------------------------------------------------------------------
# window_join_stream
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class WindowJoinShape:
    n_users: int = 10_000  # key space of the event stream
    user_share: float = 0.95  # share of the key space present in the KTable
    zipf_a: float = 0.8
    wave_size: int = 25_000  # events per drain wave (one micro-batch each)
    span_s: int = 60  # event time covered by one wave
    window_s: int = 60
    grace_s: int = 30
    disorder_s: float = 12.0  # on-time events trail the wave's clock by up to this
    late_share: float = 0.02  # share of events whose window closed 2+ windows ago


def window_users(seed: int, shape: WindowJoinShape, path: str) -> None:
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(shape.n_users, dtype=np.int64)
    keep = rng.random(shape.n_users) < shape.user_share
    ids = ids[keep]
    tier = rng.integers(1, 6, size=ids.size, dtype=np.int64)
    _write(pa.table({"user_id": ids, "tier": tier}), path)


def window_wave(seed: int, shape: WindowJoinShape, k: int, path: str) -> None:
    """Wave ``k``: on-time events with ts in the wave's span, trailing its
    clock by at most ``disorder_s`` (< grace, so always above the watermark
    left by the earlier waves), plus from wave 2 on late events whose window
    closed at least one window before the watermark left by the waves before
    ``k - 1`` (Spark filters late rows against the previous batch's
    watermark)."""
    rng = np.random.default_rng([seed, 2, k])
    n = shape.wave_size
    start = T0_S + k * shape.span_s
    ts = start + rng.random(n) * shape.span_s - rng.random(n) * shape.disorder_s
    if k >= 2:
        late = rng.random(n) < shape.late_share
        # upper bound of the watermark left by waves < k - 1
        wm = start - shape.span_s - shape.grace_s
        ts[late] = wm - 2 * shape.window_s - rng.random(int(late.sum())) * shape.window_s
    user = _zipf_keys(rng, n, shape.n_users, shape.zipf_a)
    value = rng.integers(0, 1000, size=n, dtype=np.int64)
    event_id = np.arange(k * n, (k + 1) * n, dtype=np.int64)
    _write(
        pa.table({"event_id": event_id, "user_id": user, "value": value, "ts": _ts_col(ts)}),
        path,
    )


# ---------------------------------------------------------------------------
# processor_table_stream
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ProcessorShape:
    n_keys: int = 200
    zipf_a: float = 0.8
    wave_size: int = 4_000


def processor_wave(seed: int, shape: ProcessorShape, k: int, path: str) -> None:
    """Wave ``k`` of keyed events in strictly increasing (seq, ts) order."""
    rng = np.random.default_rng([seed, 3, k])
    n = shape.wave_size
    seq = np.arange(k * n, (k + 1) * n, dtype=np.int64)
    key = _zipf_keys(rng, n, shape.n_keys, shape.zipf_a)
    value = rng.integers(-500, 1000, size=n, dtype=np.int64)
    _write(
        pa.table({"seq": seq, "key": key, "value": value, "ts": _ts_col(T0_S + seq / 1000.0)}),
        path,
    )


# ---------------------------------------------------------------------------
# neardup_stream
# ---------------------------------------------------------------------------

#: Vocabulary of the fresh texts (the fixture corpus's register: short
#: engine words, so shingles collide only through copies and edits).
VOCAB = (
    "the a fast slow big small key value order sort table scan merge part "
    "window hash join batch stream spark group query row data filter "
    "customer line agg column vector time event state store commit log "
    "topic offset shard node plan task stage index bloom bucket band "
    "token text doc word page site link title body"
).split()


@dataclass(frozen=True)
class NearDupShape:
    wave_size: int = 400
    min_words: int = 30
    max_words: int = 80
    exact_share: float = 0.10  # exact copies of an earlier doc
    edit_share: float = 0.10  # one word of an earlier doc replaced


def neardup_waves(seed: int, shape: NearDupShape, n_waves: int) -> list[list[dict]]:
    """All waves of documents at once (copies and edits reach back into any
    earlier wave).  Doc ids and ts rise with arrival.  Returns the rows;
    ``write_neardup_wave`` writes one wave."""
    rng = np.random.default_rng([seed, 4])
    docs: list[dict] = []
    waves: list[list[dict]] = []
    for _w in range(n_waves):
        wave = []
        for _i in range(shape.wave_size):
            doc_id = len(docs)
            u = rng.random()
            if docs and u < shape.exact_share:
                text = docs[int(rng.integers(0, len(docs)))]["text"]
            elif docs and u < shape.exact_share + shape.edit_share:
                words = docs[int(rng.integers(0, len(docs)))]["text"].split()
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                text = " ".join(words)
            else:
                n = int(rng.integers(shape.min_words, shape.max_words + 1))
                text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n))
            row = {"doc_id": doc_id, "text": text, "ts": float(T0_S + doc_id)}
            docs.append(row)
            wave.append(row)
        waves.append(wave)
    return waves


def exact_copy_ids(waves: list[list[dict]]) -> list[int]:
    """Doc ids whose text equals the text of an earlier doc."""
    seen: set[str] = set()
    out = []
    for wave in waves:
        for row in wave:
            if row["text"] in seen:
                out.append(row["doc_id"])
            seen.add(row["text"])
    return out


def write_neardup_wave(rows: list[dict], path: str) -> None:
    _write(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "ts": pa.array([r["ts"] for r in rows], pa.float64()),
            }
        ),
        path,
    )
