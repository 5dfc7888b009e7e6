"""Tests of the benchmark's output checks and input generator on tiny
hand-built inputs whose answers are known by hand.  No Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench.harness import ROOT, CheckFailed

T = 1_700_000_040  # a multiple of the 60 s window
SHAPE = gen.WindowJoinShape(window_s=60, grace_s=30)


def _events(path, rows):
    user, value, ts = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "user_id": pa.array(user, pa.int64()),
                "value": pa.array(value, pa.int64()),
                "ts": pa.array([int(t * 1_000_000) for t in ts], pa.timestamp("us", tz="UTC")),
            }
        ),
        path,
    )


@pytest.fixture
def window_input(tmp_path):
    """Users 1 (tier 2) and 2 (tier 3); user 3 is not in the table.

    wave 0: u1 v10 @T+5, u2 v1 @T+10, u3 v7 @T+20 (dropped by the join, so
            the joined maximum is T+10)
    wave 1: u1 v5 @T+65, u2 v2 @T+100
    wave 2: u1 v100 @T-200 (window ends T-180, at or before the watermark
            T+10-30 left by wave 0: late), u1 v3 @T+130

    With a final watermark of T+100 only the window [T, T+60) is closed:
    u1 -> count 1, sum 10*2; u2 -> count 1, sum 1*3."""
    ev = tmp_path / "events"
    ev.mkdir()
    _events(ev / "wave-00000.parquet", [(1, 10, T + 5), (2, 1, T + 10), (3, 7, T + 20)])
    _events(ev / "wave-00001.parquet", [(1, 5, T + 65), (2, 2, T + 100)])
    _events(ev / "wave-00002.parquet", [(1, 100, T - 200), (1, 3, T + 130)])
    users = tmp_path / "users.parquet"
    pq.write_table(pa.table({"user_id": pa.array([1, 2], pa.int64()), "tier": pa.array([2, 3], pa.int64())}), users)
    return str(ev), str(users)


def _result(rows):
    return pd.DataFrame(rows, columns=["user_id", "window_start", "window_end", "cnt", "total"])


def test_window_oracle_by_hand(window_input):
    ev, users = window_input
    want, late, unclear = checks.window_oracle(f"{ev}/*.parquet", users, T + 100, 60, 30)
    assert want == [(1, T, T + 60, 1, 20), (2, T, T + 60, 1, 3)]
    assert (late, unclear) == (1, 0)


def test_window_join_accepts_the_right_answer(window_input):
    ev, users = window_input
    checks.window_join(ev, users, _result([(2, T, T + 60, 1, 3), (1, T, T + 60, 1, 20)]), T + 100, SHAPE)


@pytest.mark.parametrize(
    "rows",
    [
        [(1, T, T + 60, 1, 20)],  # a window missing
        [(1, T, T + 60, 2, 120), (2, T, T + 60, 1, 3)],  # the late event counted
        [(1, T, T + 60, 1, 20), (2, T, T + 60, 1, 3), (1, T + 60, T + 120, 1, 10)],  # an open window emitted
        [(1, T, T + 60, 1, 20), (1, T, T + 60, 1, 20), (2, T, T + 60, 1, 3)],  # emitted twice
    ],
)
def test_window_join_rejects_wrong_answers(window_input, rows):
    ev, users = window_input
    with pytest.raises(CheckFailed):
        checks.window_join(ev, users, _result(rows), T + 100, SHAPE)


def test_window_join_rejects_an_unclear_event(window_input):
    """u2 @T+50 in wave 2: its window [T, T+60) ends after the older
    watermark (T-20) but its ts is below the newer one (T+70)."""
    ev, users = window_input
    _events(os.path.join(ev, "wave-00002.parquet"), [(1, 100, T - 200), (1, 3, T + 130), (2, 4, T + 50)])
    _, _, unclear = checks.window_oracle(f"{ev}/*.parquet", users, T + 100, 60, 30)
    assert unclear == 1
    with pytest.raises(CheckFailed, match="clearly"):
        checks.window_join(ev, users, _result([]), T + 100, SHAPE)


def test_generated_window_waves_are_clearly_late_or_on_time(tmp_path):
    shape = gen.WindowJoinShape(n_users=200, wave_size=2_000)
    gen.window_users(7, shape, str(tmp_path / "users.parquet"))
    for k in range(6):
        gen.window_wave(7, shape, k, str(tmp_path / "events" / f"wave-{k:05d}.parquet"))
    want, late, unclear = checks.window_oracle(
        str(tmp_path / "events" / "*.parquet"), str(tmp_path / "users.parquet"), gen.T0_S + 300, 60, 30
    )
    assert unclear == 0 and late > 0 and want


def _keyed(path, rows):
    key, value = zip(*rows)
    pq.write_table(pa.table({"key": pa.array(key, pa.int64()), "value": pa.array(value, pa.int64())}), path)


def test_processor_table_by_hand(tmp_path):
    """key 1: 5 + 7 - 2 -> count 3, sum 10; key 2: 4 -> count 1, sum 4."""
    _keyed(tmp_path / "wave-00000.parquet", [(1, 5), (2, 4)])
    _keyed(tmp_path / "wave-00001.parquet", [(1, 7), (1, -2)])
    glob_ = str(tmp_path / "*.parquet")
    good = pd.DataFrame({"key": [2, 1], "cnt": [1, 3], "total": [4, 10]})
    checks.processor_table(glob_, good)
    for bad in (
        pd.DataFrame({"key": [2, 1], "cnt": [1, 2], "total": [4, 12]}),  # the restart wave lost
        pd.DataFrame({"key": [1], "cnt": [3], "total": [10]}),  # a key lost
    ):
        with pytest.raises(CheckFailed):
            checks.processor_table(glob_, bad)


def test_neardup_by_hand(tmp_path):
    """doc 1 copies doc 0; doc 3 is doc 0 with its last word changed (5 of
    its 6 shingles kept: Jaccard 5/7 < 0.8, so kept); doc 2 is unrelated."""
    from responsive_pub_spark.operators import dedup

    base = "one two three four five six seven eight"
    rows = [
        {"doc_id": 0, "text": base, "ts": 1.0},
        {"doc_id": 1, "text": base, "ts": 2.0},
        {"doc_id": 2, "text": "red green blue cyan magenta yellow black white", "ts": 3.0},
        {"doc_id": 3, "text": base.replace("eight", "nine"), "ts": 4.0},
    ]
    gen.write_neardup_wave(rows, str(tmp_path / "wave-00000.parquet"))
    oracle = dedup.greedy_keep_oracle()
    glob_ = str(tmp_path / "*.parquet")
    verdicts = pd.DataFrame({"doc_id": [0, 1, 2, 3], "is_duplicate": [False, True, False, False]})
    checks.neardup(glob_, verdicts, gen.exact_copy_ids([rows]), oracle)
    wrong = verdicts.assign(is_duplicate=[False, False, False, False])
    with pytest.raises(CheckFailed):
        checks.neardup(glob_, wrong, gen.exact_copy_ids([rows]), oracle)


def _digest(path):
    return hashlib.sha256(open(path, "rb").read()).hexdigest()


def test_generator_is_byte_identical_per_seed(tmp_path):
    def write(seed, sub):
        d = tmp_path / sub
        gen.window_users(seed, gen.WindowJoinShape(), str(d / "users.parquet"))
        gen.window_wave(seed, gen.WindowJoinShape(), 3, str(d / "w.parquet"))
        gen.processor_wave(seed, gen.ProcessorShape(), 3, str(d / "p.parquet"))
        gen.write_neardup_wave(gen.neardup_waves(seed, gen.NearDupShape(), 2)[1], str(d / "n.parquet"))
        return [_digest(d / f) for f in ("users.parquet", "w.parquet", "p.parquet", "n.parquet")]

    assert write(5, "a") == write(5, "b")
    assert all(x != y for x, y in zip(write(5, "a"), write(6, "c")))


def test_neardup_mix_has_exact_copies():
    waves = gen.neardup_waves(3, gen.NearDupShape(), 2)
    ids = gen.exact_copy_ids(waves)
    assert ids and all(i >= 1 for i in ids)


def test_per_layer_names_match_benchmark_json():
    from perfbench.trace import LAYERS

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYERS
