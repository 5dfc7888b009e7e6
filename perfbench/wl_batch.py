"""batch_queries: registry queries over the read-only sf0.001 fixture in
``perfbench/fixture/``.  Plan build (registry, operators, ``read_table``,
``scoped_persist``) and batch execution do the work.

Phases, each a pass over QUERIES (every query built and executed to the
``noop`` sink):
  cold      the first pass in a fresh JVM and session;
  warm      further passes in that session for ``--seconds`` (at least 3);
  recovery  one pass in a new session on the warm JVM, collecting each
            result into pandas on the driver.
Then each collected result is compared with its registry DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

from perfbench.harness import ROOT, log

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

#: Bench queries that cover the batch layers: the KStream/KTable DSL
#: (flagship), the cache pool and the heaviest plan build (fk_join) and a
#: three-way join.  The other fourteen bench rows would push a run past its
#: time budget (the cold pass of all 17 takes ~37 s on 4 cores).
QUERIES = (
    "flagship_stjoin_window",
    "fk_join_changelog",
    "tpch_q3_shipping",
)

#: Warm passes per run, at the least (more while ``--seconds`` lasts).
WARM_PASSES = 3

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")


def one_pass(r, sf_dir: str, fns: dict, phase: str, collect: bool = False):
    """Build and execute every query once, to the ``noop`` sink or, with
    ``collect``, into pandas on the driver.  Returns per query the wall
    time and the part of it spent building the plan, and the collected
    results."""
    times = {}
    results = {}
    with r.span(f"pass.{phase}"):
        for name in QUERIES:
            t0 = time.perf_counter()
            with r.span(f"build.{phase}"):
                df = r.op(fns[name], r.spark, sf_dir)
            t1 = time.perf_counter()
            if collect:
                results[name] = r.op(df.toPandas)
            else:
                r.op(df.write.format("noop").mode("overwrite").save)
            times[name] = (time.perf_counter() - t0, t1 - t0)
    return times, results


def _total(times: dict, part: int = 0) -> float:
    return sum(t[part] for t in times.values())


def _stage(dest: str) -> str:
    shutil.copytree(FIXTURE, dest)
    return dest


def run(r) -> None:
    from responsive_pub_spark import registry

    fns = {name: registry.REGISTRY[name].fn for name in QUERIES}
    sf_dir = r.setup(lambda rnd: _stage(r.path(f"fixture-{rnd}")))

    cold, _ = one_pass(r, sf_dir, fns, "cold")
    warm = []
    t_end = time.perf_counter() + r.seconds
    while len(warm) < WARM_PASSES or time.perf_counter() < t_end:
        warm.append(one_pass(r, sf_dir, fns, "warm")[0])
    log(f"cold pass {_total(cold):.2f}s ({_total(cold, 1):.2f}s plan build); warm passes "
        + ", ".join(f"{_total(t):.2f}s ({_total(t, 1):.2f}s build)" for t in warm))
    r.session()
    recovery, results = one_pass(r, sf_dir, fns, "recovery", collect=True)

    r.metric("cold_s", _total(cold), "s")
    # per query the median over the warm passes, summed: one slow call
    # of one query does not move the figure
    steady = sum(statistics.median(t[name][0] for t in warm) for name in QUERIES)
    r.metric("steady_ms", steady * 1000.0, "ms")
    r.metric("recovery_s", _total(recovery), "s")

    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_util import compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name in QUERIES:
        r.check(name, _oracle, compare, results[name], con, registry.REGISTRY[name].oracle)


class _Collected:
    """A result already collected into pandas, in the shape ``compare``
    reads (``toPandas()``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _oracle(compare, pdf, con, oracle: str) -> None:
    from perfbench.harness import CheckFailed

    ok, msg = compare(_Collected(pdf), con, oracle)
    if not ok:
        raise CheckFailed(msg)
