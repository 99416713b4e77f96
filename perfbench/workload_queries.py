"""``queries``: what an analyst pays per contract query.

A fixed subset of the contract registry runs on the sf0.1 corpus, in an
order the seed permutes, in passes. Each pass runs, per query,
``clearCache`` → ``build()`` → first run, each run through
``bench.run_once`` (the noop sink). The first ``WARM_PASSES`` are an
untimed warm-up, so the JVM has compiled the code paths before any
measurement. In each of the ``TIMED_PASSES`` that follow, the first run
is followed by ``steady_runs`` reruns with the query's own persists
warm. Spreading the samples of each query over the passes keeps a burst
of load on a shared host from landing on all of them. Temp index dirs a
build registers are deleted after each pass over a query, as
``bench.py`` does.

End-to-end metrics on this workload, in CPU seconds (and wall seconds
in the run's host line):
- cold: Σ over queries of the median over timed passes of build +
  first run.
- steady: Σ over queries of the median rerun over all timed passes.

Output check (untimed): each query's result against its DuckDB oracle
on the same parquet, with ``tests/oracle.py``'s comparison; a query
without oracle SQL must return rows.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

# Fixed subset, sized to the run budget, one query per layer it is
# there for: the flagship scan-filter-join-agg (plans, catalog), exact
# document dedup (operators.dedup), the brute-force cosine top-10
# (operators.similarity) and the reply-chain closure, whose build runs
# the iterative graph operator eagerly (operators.graph).
SUBSET = (
    "q_revenue_by_segment",
    "q_exact_dedup",
    "q_sim_topk",
    "q_thread_closure",
)


WARM_PASSES = 1
TIMED_PASSES = 2


def steady_runs(seconds: int) -> int:
    """Reruns per query and timed pass: ``--seconds`` sizes the work, it
    is no timer."""
    return max(1, seconds // 15)


def order(seed: int) -> list[str]:
    return random.Random(seed).sample(SUBSET, len(SUBSET))


def run(rec, spark, corpus_dir: str, seed: int, seconds: int, work: str) -> dict:
    import bench
    import duckdb

    from tests.oracle import assert_parity, create_duck_views
    from tia_data_pipeline_spark import plans
    from tia_data_pipeline_spark.plans.contract import TEMP_DERIVATION_DIRS

    duck = duckdb.connect()
    create_duck_views(duck, corpus_dir)
    n_steady = steady_runs(seconds)
    names = order(seed)
    for n_pass in range(WARM_PASSES + TIMED_PASSES):
        timed, last = n_pass >= WARM_PASSES, n_pass == WARM_PASSES + TIMED_PASSES - 1
        for name in names:
            q = plans.REGISTRY[name]
            call = f"plans.{name}"
            # the warm-up pass's spans are kept apart from the measured ones
            build, first = ("build", "first") if timed else ("warm_build", "warm_first")
            spark.catalog.clearCache()
            mark = len(TEMP_DERIVATION_DIRS)
            try:
                df = rec.timed(call, build, q.build, spark, corpus_dir)
                if df is None:
                    continue
                if len(TEMP_DERIVATION_DIRS) > mark:
                    os.sync()  # bench_query's rule: flush the build's index writes
                if rec.timed(call, first, bench.run_once, df) is None or not timed:
                    continue
                for _ in range(n_steady):
                    rec.timed(call, "steady", bench.run_once, df)
                if last and q.oracle is not None:
                    rec.check(
                        f"oracle.{name}", _parity, assert_parity, df, duck.sql(q.oracle), name
                    )
                elif last:
                    rec.check(f"rows.{name}", lambda d: d.limit(1).count() == 1, df)
            finally:
                for d in TEMP_DERIVATION_DIRS[mark:]:
                    shutil.rmtree(d, ignore_errors=True)
                del TEMP_DERIVATION_DIRS[mark:]
    duck.close()

    def phase(name: str, ph: str, cpu: bool) -> float:
        """A query's median build, first run or rerun."""
        spans = rec.seconds(f"plans.{name}", ph, cpu)
        return statistics.median(spans) if spans else 0.0

    def total_of(name: str, phases) -> float:
        return sum(phase(name, ph, False) for ph in phases)

    def total(phases, cpu: bool) -> float:
        return sum(phase(n, ph, cpu) for n in SUBSET for ph in phases)

    return {
        "wall": {"cold": total(("build", "first"), False), "steady": total(("steady",), False)},
        "cpu": {"cold": total(("build", "first"), True), "steady": total(("steady",), True)},
        "layer": {
            **{f"plans.{ph}_s": total((ph,), False) for ph in ("build", "first", "steady")},
            **{f"plans.{n}.cold_s": total_of(n, ("build", "first")) for n in SUBSET},
            **{f"plans.{n}.steady_s": total_of(n, ("steady",)) for n in SUBSET},
        },
        "steady_runs": n_steady * TIMED_PASSES,
        "info": {
            "per_query_wall_s": {
                n: [round(phase(n, ph, False), 3) for ph in ("build", "first", "steady")]
                for n in SUBSET
            }
        },
    }


def _parity(assert_parity, spark_df, duck_rel, name: str) -> bool:
    assert_parity(spark_df, duck_rel, name)
    return True


def event_layers(groups: dict, workload: str, raw: dict) -> dict:
    """Per-phase Spark counters of one pass over the queries: summed over
    queries, divided by the timed passes (build, first) or by the reruns
    per query (steady)."""
    from metrics import PLANS_COUNTERS
    from sparklogs import sum_groups

    out = {}
    for phase in ("build", "first", "steady"):
        tot = sum_groups(
            groups,
            lambda g, p=phase: g.startswith(f"{workload}:plans.") and g.endswith(f":{p}"),
        )
        div = raw["steady_runs"] if phase == "steady" else TIMED_PASSES
        for c in PLANS_COUNTERS:
            out[f"plans.{phase}.{c}"] = tot[c] / div
    return out
