"""Layer probe for traced runs.

Every traced run reports every per-layer metric. A workload that does
not drive some layer (``queries`` never touches the bus; ``ingest`` keeps
no state; the bus workloads run no declared query) gets that layer's
figures from this short, fixed probe, run after the workload so it
cannot disturb the workload's own numbers. The trace file lists which
metrics came from the probe.
"""

from __future__ import annotations

import time

import numpy as np

import gen
import ingest
import queries
import replay
import spans
from workloads import median, percentiles, reader_layers, writer_layers

N_EVENTS = 40_000  # probe topic size
PUBLISH_S = 1.0  # open-loop publish time of the producer probe
QUERY = "agg_pivot"


def _producer(ctx) -> dict:
    from cascade_spark.sources.cascade_bus import BusProducer

    rng = np.random.default_rng([ctx.seed, 7])
    n = int(ingest.RATE * PUBLISH_S)
    ts_us = np.full(n, int(time.time() * 1e6), dtype=np.int64)
    g = ingest.Generator(
        BusProducer(ctx.path("probe-src")),
        gen.event_columns(rng, n),
        ts_us,
        0,
        time.perf_counter(),
        ctx.tracer,
    )
    g.run()  # in this thread: the probe has nothing to overlap it with
    return {
        "gen.lag_ms": percentiles(g.lag_ms, 99)[0],
        "producer.publish_ms": median(g.publish_ms),
        "producer.accept_ratio": len(g.accepted) / max(1, g.attempted),
    }


def _stream(ctx, res, topic: str, cols: dict) -> dict:
    from cascade_spark.sources.cascade_bus import register_bus

    register_bus(ctx.spark)
    t0 = time.perf_counter()
    with ctx.tracer.span("first read[probe]", spans.READER):
        ctx.spark.read.format("cascade_bus").option("path", topic).load().count()
    first_s = time.perf_counter() - t0
    layers, _ = replay.consume(ctx, topic, cols, res, 0.0)
    return {"session.first_pyds_s": first_s, **layers}


def _query(ctx, res) -> dict:
    from cascade_spark.plans.registry import load_all

    sf_dir = ctx.path("probe-tables")
    gen.write_fixture_tables(sf_dir, ctx.seed, 0.001)
    load_all()
    ok, msg = queries.oracle_check(ctx.spark, QUERY, sf_dir, ctx.tracer)
    res.check(f"probe oracle {QUERY}", ok, msg)
    queries.timed_query(ctx.spark, QUERY, sf_dir, ctx.tracer, "probe")
    res.attempted += 2
    res.failed += not ok
    return {"oracle.mismatches": int(not ok)}


def fill(ctx, res, missing: list[str]) -> list[str]:
    """Measure the metrics in ``missing`` with the probe; returns those
    it filled."""
    need = {k.split(".")[0] for k in missing}
    got: dict = {}
    if need & {"gen", "producer"}:
        got.update(_producer(ctx))
    if need & {"reader", "writer", "stream", "state", "session", "query"}:
        topic = ctx.path("probe-backlog")
        cols = replay.backlog(ctx.seed, N_EVENTS)
        with ctx.tracer.span("stage probe backlog", spans.BENCH):
            replay.write_backlog(topic, cols, replay.CHUNK, ctx.tracer)
        got.update(writer_layers(topic))
        got.update(reader_layers(topic, replay.MAX_PER_BATCH, ctx.tracer))
        got.update(_stream(ctx, res, topic, cols))
    if not any(s[3] == spans.OPERATORS for s in ctx.tracer.spans):
        got.update(_query(ctx, res))
    filled = [k for k in missing if k in got]
    res.layers.update({k: got[k] for k in filled})
    return filled
