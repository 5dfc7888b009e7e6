"""Output checks, each computed in DuckDB from the generated input files
(apart from the program under test) and compared exactly with what the
program wrote.  Each raises ``CheckFailed`` with the first differences."""

from __future__ import annotations

import duckdb
import pandas as pd

from perfbench.harness import CheckFailed


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(tuple(int(v) for v in r) for r in df[cols].itertuples(index=False, name=None))


def _same(name: str, got: list[tuple], want: list[tuple]) -> None:
    if got != want:
        g, w = set(got), set(want)
        raise CheckFailed(
            f"{name}: {len(got)} rows vs {len(want)} expected; "
            f"unexpected {sorted(g - w)[:3]}, missing {sorted(w - g)[:3]}"
        )


def window_oracle(events_glob: str, users_path: str, final_wm: float, window_s: int, grace_s: int):
    """Expected (user_id, window_start, window_end, cnt, total) rows, the
    late-event count, and the count of events that are neither clearly on
    time nor clearly late.

    Wave ``k`` is one micro-batch.  Spark evicts windows against the
    watermark left by waves ``< k`` (the largest joined event time so far
    minus grace; the epoch before wave 1) and drops late rows against the
    one left by waves ``< k - 1``.  An event is late if its window ended at
    or before the older watermark, so it is dropped whichever watermark and
    whichever late-row rule (event time or window end) applies; it is on
    time if its ts lies above the newer one.  Only windows that the final
    watermark closed are emitted."""
    con = duckdb.connect()
    con.execute(
        f"""
        CREATE TABLE j AS
        SELECT CAST(regexp_extract(e.filename, 'wave-([0-9]+)', 1) AS INTEGER) AS wave,
               e.user_id, e.value, u.tier,
               epoch_us(e.ts) / 1e6 AS t,
               CAST(floor(epoch_us(e.ts) / 1e6 / {window_s}) AS BIGINT) * {window_s} AS ws
        FROM read_parquet('{events_glob}', filename = true) e
        JOIN read_parquet('{users_path}') u USING (user_id)
        """
    )
    # wm: the watermark left by waves < k; wm_prev: by waves < k - 1
    con.execute(
        f"""
        CREATE TABLE wm AS
        SELECT wave,
               coalesce(max(wmax) OVER (ORDER BY wave ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) - {grace_s}, 0) AS wm,
               coalesce(max(wmax) OVER (ORDER BY wave ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 2 PRECEDING) - {grace_s}, 0) AS wm_prev
        FROM (SELECT wave, max(t) AS wmax FROM j GROUP BY wave)
        """
    )
    con.execute(
        f"""
        CREATE TABLE c AS
        SELECT j.*, (j.ws + {window_s} <= wm.wm_prev) AS late, (j.t > wm.wm) AS on_time
        FROM j JOIN wm USING (wave)
        """
    )
    late = con.execute("SELECT count(*) FROM c WHERE late").fetchone()[0]
    unclear = con.execute("SELECT count(*) FROM c WHERE late = on_time").fetchone()[0]
    want = con.execute(
        f"""
        SELECT user_id, ws, ws + {window_s}, count(*), CAST(sum(value * tier) AS BIGINT)
        FROM c WHERE NOT late AND ws + {window_s} <= {final_wm}
        GROUP BY user_id, ws
        """
    ).fetchall()
    return sorted(tuple(int(v) for v in r) for r in want), late, unclear


def window_join(events_dir: str, users_path: str, result: pd.DataFrame, final_wm: float, shape) -> None:
    want, late, unclear = window_oracle(
        f"{events_dir}/*.parquet", users_path, final_wm, shape.window_s, shape.grace_s
    )
    if unclear:
        raise CheckFailed(f"{unclear} events are neither clearly on time nor clearly late")
    if late == 0:
        raise CheckFailed("the input has no late events")
    cols = ["user_id", "window_start", "window_end", "cnt", "total"]
    got = _rows(result, cols)
    if len(set((r[0], r[1]) for r in got)) != len(got):
        raise CheckFailed("a (key, window) was emitted twice")
    _same("windowed counts and sums", got, want)


def processor_table(waves_glob: str, table: pd.DataFrame) -> None:
    """Per-key running count and sum read back from the KV table equal a
    group-by over every generated event."""
    want = duckdb.sql(
        f"""
        SELECT key, count(*), CAST(sum(value) AS BIGINT)
        FROM read_parquet('{waves_glob}') GROUP BY key
        """
    ).fetchall()
    got = _rows(table, ["key", "cnt", "total"])
    _same("per-key count and sum", got, sorted(tuple(int(v) for v in r) for r in want))


def neardup(docs_glob: str, verdicts: pd.DataFrame, exact_ids: list[int], oracle_sql: str) -> None:
    """Verdicts equal the greedy first-arrival oracle over the generated
    docs, and every exact copy of an earlier doc is dropped."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{docs_glob}')")
    want = sorted((int(d), bool(x)) for d, x in con.execute(oracle_sql).fetchall())
    got = sorted((int(d), bool(x)) for d, x in verdicts[["doc_id", "is_duplicate"]].itertuples(index=False, name=None))
    if got != want:
        diff = sorted(set(got) ^ set(want))[:4]
        raise CheckFailed(f"verdicts: {len(got)} vs {len(want)} expected; differ at {diff}")
    kept = {d for d, dup in got if not dup}
    missed = [d for d in exact_ids if d in kept]
    if missed:
        raise CheckFailed(f"exact copies kept: {missed[:5]}")
    if not exact_ids:
        raise CheckFailed("the input has no exact copies")
