"""``query``: repeated passes over the headline analytics queries, no lake I/O.

Set-up writes the FIXTURES.md tables from the seed at scale ``SF`` and runs
each query once through ``tests/oracle_harness.compare`` — the DuckDB oracle
check of the run, and the cold first pass.  The measured passes follow it
directly (README.md records the settling curve).

A query is timed builder-inclusive: ``QuerySpec.build`` plus a write to the
``noop`` sink; ``spark.catalog.clearCache()`` follows, inside the pass wall
but outside the query's own time.
"""

from __future__ import annotations

import os
import time

import gen
import stats

# bench.py's HEADLINE without b38_put_dedup (the only lake row): analytics
# only, so a lake-core change predicts no change here.
QUERIES = (
    "b10_tpch_q1", "b04_tpch_q6", "b05_tpch_q5", "b05_join_inner_4way",
    "b16_window_frames", "b08_range_join", "b13_rollup", "b18_topk",
    "b30_tumbling_window", "b31_session_window", "b34_exact_dedup",
    "b35_minhash_lsh", "b36_cosine_topk", "b37_token_stats", "b42_llm_pipeline",
)
SF = 0.02  # lineitem rows = 6M × SF
PASS_S = 9.0  # nominal wall of one pass at the seed code, 4 CPUs


def passes_for(seconds: float) -> int:
    """Fixed work per ``--seconds``, sized to fill about ``seconds`` at the
    seed code."""
    return max(2, round(seconds / PASS_S))


def _one(r, spec, sf_dir: str) -> float:
    with r.span("query", query=spec.name):
        t0 = time.perf_counter()
        with r.span("query.build"):
            df = spec.build(r.spark, sf_dir)
        with r.span("query.exec"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def run(r) -> dict:
    from ps_datalake_spark.registry import all_queries
    from tests.oracle_harness import compare

    specs = all_queries()
    sf_dir = os.path.join(r.scratch, "tables")
    rows = gen.query_tables(r.seed, sf_dir, SF)
    input_mb = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)) / 1e6
    r.info["inputs"] = {"sf": SF, "rows": rows, "input_mb": input_mb}

    for name in QUERIES:
        with r.attempt(f"oracle {name}") as a:
            problems = compare(specs[name], r.spark, sf_dir)
            a.ok = not problems
            if problems:
                r.errors.append(f"{name}: {problems}")
        r.spark.catalog.clearCache()

    per_query: dict[str, list[float]] = {name: [] for name in QUERIES}
    pass_s: list[float] = []
    for p in range(passes_for(r.seconds)):
        t0 = time.perf_counter()
        for name in QUERIES:
            r.phase("measure", op=f"pass{p}.{name}")
            with r.attempt(f"pass {p} {name}"):
                per_query[name].append(_one(r, specs[name], sf_dir))
            r.spark.catalog.clearCache()
        pass_s.append(time.perf_counter() - t0)
    r.phase("final")
    # each query's median over the passes first: one slow execution of one
    # query then moves neither metric
    medians = [stats.percentile(ts, 50) for ts in per_query.values()]
    runs = [t for ts in per_query.values() for t in ts]
    r.info["samples"] = {"passes": len(pass_s), "query_runs": len(runs)}
    q = stats.tail_percentile(len(runs))
    if q:
        r.info["samples"][f"query_p{q}_ms"] = stats.percentile(runs, q) * 1000
    r.info["pass_s"] = pass_s
    return {"op_p50_ms": stats.percentile(medians, 50) * 1000,
            "mb_per_s": input_mb / sum(medians)}
