"""``queries`` — closed loop, batch analytics over declared queries.

A fixed list of oracle-checked registry queries, one per operator
family, runs over seeded fixture tables written into the run directory.
Each execution is forced to full materialization with an xxhash64
checksum over every output column (a bare count would let Catalyst prune
projections). Set-up ends with two untimed passes: the correctness
pass (every query through ``plans.compare``, the DuckDB oracle hash
match) and a warm-up pass of the timed plan shape, whose first run is
markedly slower than later ones. The timed region then runs a fixed
number of whole passes, each in a seeded order, one query at a time.

Why these queries: each takes >= 0.3 s warm on a 4-core host (so the
job-submission floor does not dominate), none reads the shared
persisted-frame cache of ``operators.dedup`` (whose repeat run times a
cache lookup, not the operator — the run checks ``CACHE_STATS`` hits
stay 0), and together they cover the operator families that hold most of
the code.
"""

from __future__ import annotations

import time

import numpy as np

import gen
import spans
from workloads import Result, e2e, job_counts, median

SCALE = 0.03  # fixture scale: ~180k lineitem rows, 30k events
# timed passes per --seconds: a fixed count, so every run times the same
# mix (one pass takes 5-9 s on 4 cores)
SECONDS_PER_PASS = 7.5
QUERIES = {
    # name: why it is in the list
    "join_salted_skew": "joins: salted skew join over lineitem x orders",
    "agg_pivot": "aggregations: pivot (one aggregate per pivot value)",
    "window_running_distinct": "windows: running distinct count over an ordered frame",
    "events_rolling_active_users": "analytics: rolling active users over event days",
    "similarity_knn_join": "similarity: exact k-NN join over embeddings",
    "text_feature_hashing": "text: tokenize + hashed term features per document",
    "fn_array_set_operations": "functions: array set operations",
    "udf_pandas_grouped_agg": "udf: grouped pandas aggregate UDF (Python workers)",
}


def materialize(df) -> tuple:
    """Evaluate every output column: sum of xxhash64 over all columns."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.select(h.alias("_h")).agg(F.count("_h"), F.sum("_h")).collect()[0]
    return tuple(row)


def oracle_check(spark, name: str, sf_dir: str, tracer) -> tuple[bool, str]:
    from cascade_spark.plans.compare import compare
    from cascade_spark.plans.registry import REGISTRY

    q = REGISTRY[name]
    with tracer.span(f"{name}.builder", spans.OPERATORS):
        df = q.builder(spark, sf_dir)
    with tracer.span(f"compare[{name}]", spans.COMPARE, req=name):
        return compare(df, q.oracle, sf_dir)


def timed_query(spark, name: str, sf_dir: str, tracer, req) -> float:
    from cascade_spark.plans.registry import REGISTRY

    t0 = time.perf_counter()
    with tracer.span(name, spans.OPERATORS, req=req):
        materialize(REGISTRY[name].builder(spark, sf_dir))
    return time.perf_counter() - t0


def run(ctx) -> Result:
    from cascade_spark.operators.dedup import CACHE_STATS
    from cascade_spark.plans.registry import load_all

    tracer = ctx.tracer
    spark = ctx.start_session()
    load_all()
    sf_dir = ctx.path("tables")
    with tracer.span("write fixture tables", spans.BENCH):
        rows = gen.write_fixture_tables(sf_dir, ctx.seed, SCALE)
    names = list(QUERIES)
    res = Result(end_to_end={}, layers={}, attempted=0, failed=0)

    mismatches = 0
    warm_s = {}
    for name in names:  # warm-up that is also the correctness pass
        t0 = time.perf_counter()
        try:
            ok, msg = oracle_check(spark, name, sf_dir, tracer)
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            ok, msg = False, repr(exc)
        warm_s[name] = time.perf_counter() - t0
        res.attempted += 1
        mismatches += not ok
        res.check(f"oracle {name}", ok, msg)
    res.failed += mismatches
    for name in names:  # the timed plan shape (checksum aggregate), once each
        try:
            timed_query(spark, name, sf_dir, tracer, "warm-up")
        except Exception:  # noqa: BLE001 — counted when the timed pass fails
            pass
    setup_s = time.perf_counter() - ctx.t_process

    rng = np.random.default_rng(ctx.seed)
    lat: dict[str, list[float]] = {n: [] for n in names}
    hits0 = CACHE_STATS["hits"]
    counts = {"query.jobs": 0, "query.stages": 0, "query.tasks": 0}
    passes = []
    t_start = time.perf_counter()
    for k in range(max(1, round(ctx.seconds / SECONDS_PER_PASS))):
        p0 = time.perf_counter()
        for name in rng.permutation(names):
            group = f"perfbench-{name}-{k}"
            spark.sparkContext.setJobGroup(group, name)
            res.attempted += 1
            try:
                lat[name].append(timed_query(spark, name, sf_dir, tracer, k))
            except Exception as exc:  # noqa: BLE001
                res.failed += 1
                res.check(f"run {name}", False, repr(exc))
            if k == 0:
                for key, v in job_counts(spark, group).items():
                    counts[key] += v
        passes.append(time.perf_counter() - p0)
    elapsed = time.perf_counter() - t_start
    spark.sparkContext.setJobGroup("perfbench", "")
    cache_ok = res.check(
        "no shared-cache hits", CACHE_STATS["hits"] == hits0, f"{CACHE_STATS['hits'] - hits0} hits"
    )
    res.failed += not cache_ok

    # a query's latency in this run: the median of its timed executions
    query_s = {n: median(v) for n, v in lat.items() if v}
    res.end_to_end = e2e(
        setup_s,
        [s * 1000.0 for s in query_s.values()],
        sum(len(v) for v in lat.values()) / elapsed,
    )
    res.details.update(
        tables=rows,
        passes_s=passes,
        query_s=query_s,
        warm_s=warm_s,
        queries=QUERIES,
    )
    res.layers = {
        "session.start_s": ctx.session_s,
        **counts,
        "oracle.mismatches": mismatches,
    }
    return res
