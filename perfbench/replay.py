"""``replay`` — closed loop, read-heavy.

Set-up: the ``cascade_bus`` sink writer commits a seeded backlog topic
micro-batch by micro-batch (``BusStreamWriter.write`` then
``commit(messages, batchId)`` — the calls Spark makes per streaming
batch), so the topic is a chain of committed parquet segments.

Timed (a): one streaming query drains the whole backlog with
``maxRecordsPerBatch`` on a processing-time trigger — the live-consumer
mode — into a watermarked tumbling-window count/sum per ``event_type``.
A trailing sentinel event, far ahead in event time, moves the watermark
past every real window so all of them are emitted (append mode).

Timed (b): one client issues seeded random ``(partition, offset range)``
reads through ``spark.read.format("cascade_bus")``; the partition and
offset filters are pushed down into the reader.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

import gen
import spans
from workloads import (
    Result,
    batch_end_us,
    e2e,
    job_counts,
    median,
    offsets,
    progress_of,
    reader_layers,
    stream_layers,
    writer_layers,
)

PARTITIONS = 4
BACKLOG_PER_S = 8_000  # backlog events per second of --seconds
CHUNK = 4_000  # events per sink micro-batch (a multiple of PARTITIONS)
MAX_PER_BATCH = 10_000  # maxRecordsPerBatch of the drain
TRIGGER = "100 milliseconds"
STEP_US = 10_000  # event-time spacing
JITTER_US = 2_000_000  # out-of-order spread, < WATERMARK / 2
WATERMARK = "5 seconds"
WINDOW = "1 minute"
WINDOW_US = 60_000_000
SEEK_SHARE = 0.5  # share of --seconds spent on seeks
SEEK_LEN = (200, 2_000)
MIN_SEEKS = 6
DRAIN_TIMEOUT_S = 90
_BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def backlog(seed: int, n: int) -> dict:
    """n seeded events plus one sentinel per partition, far ahead in
    event time. Row i goes to partition i % P at offset i // P."""
    rng = np.random.default_rng(seed)
    cols = gen.event_columns(rng, n)
    cols["ts_us"] = _BASE_US + np.arange(n) * STEP_US + rng.integers(0, JITTER_US, n)
    sentinel_us = int(cols["ts_us"].max()) + 3600 * 1_000_000
    for k, extra in (
        ("event_id", np.arange(n, n + PARTITIONS)),
        ("user_id", np.zeros(PARTITIONS, np.int64)),
        ("event_type", np.array(["sentinel"] * PARTITIONS)),
        ("value", np.zeros(PARTITIONS)),
        ("ts_us", np.full(PARTITIONS, sentinel_us)),
    ):
        cols[k] = np.concatenate([cols[k], extra])
    cols["partition"] = (np.arange(n + PARTITIONS) % PARTITIONS).astype(np.int32)
    return cols


def write_backlog(topic: str, cols: dict, chunk: int, tracer) -> None:
    """Commit the backlog through the sink writer, one micro-batch per
    ``chunk`` rows."""
    from cascade_spark.sources.cascade_bus import BusStreamWriter

    writer = BusStreamWriter({"path": topic, "numpartitions": str(PARTITIONS)}, False)
    names = ["partition", "event_id", "ts_us", "user_id", "event_type", "value"]
    n = len(cols["event_id"])
    for batch_id, lo in enumerate(range(0, n, chunk)):
        rb = pa.record_batch([pa.array(cols[c][lo : lo + chunk]) for c in names], names=names)
        with tracer.span("BusStreamWriter.write+commit", spans.WRITER, req=batch_id):
            writer.commit([writer.write(iter([rb]))], batch_id)


def expected_windows(cols: dict) -> dict:
    """(window start µs, event_type) -> (count, value sum in 1e-2 units),
    real events only."""
    real = cols["event_type"] != "sentinel"
    start = (cols["ts_us"][real] // WINDOW_US) * WINDOW_US
    cents = np.round(cols["value"][real] * 100).astype(np.int64)
    out: dict = {}
    for s, t, c in zip(start.tolist(), cols["event_type"][real].tolist(), cents.tolist()):
        n, v = out.get((s, t), (0, 0))
        out[(s, t)] = (n + 1, v + c)
    return out


def window_counts(stream):
    """Watermarked tumbling-window count and value sum (in cents) per
    ``event_type`` over a ``cascade_bus`` stream."""
    from pyspark.sql import functions as F

    return (
        stream.select(F.timestamp_micros("ts_us").alias("ts"), "event_type", "value")
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") * 100).cast("decimal(18,0)")).cast("long").alias("cents"),
        )
        .select(F.unix_micros("w.start").alias("start_us"), "event_type", "n", "cents")
    )


def window_diff(got: dict, want: dict) -> tuple[int, str]:
    """Windows whose (count, cents) differ, and a description of the
    first one."""
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    first = f"; first {bad[0]}: got {got.get(bad[0])} want {want.get(bad[0])}" if bad else ""
    return len(bad), f"{len(bad)} of {len(want)} windows wrong{first}"


def drain(spark, topic: str, ckpt: str, tracer, n_total: int):
    """Drain ``topic`` through the windowed aggregation. Returns the
    emitted windows, the progress of every batch, the drain time (first
    batch start to the end of the last batch that read data), whether
    every offset was read and the stopped query."""
    name = "drain_" + os.path.basename(topic).replace("-", "_")
    agg = window_counts(
        spark.readStream.format("cascade_bus")
        .option("path", topic)
        .option("maxRecordsPerBatch", str(MAX_PER_BATCH))
        .load()
    )
    ends = {p: n_total // PARTITIONS + (p < n_total % PARTITIONS) for p in range(PARTITIONS)}
    with tracer.span("writeStream.start[drain]", spans.STREAMING):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=TRIGGER)
            .start()
        )
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    done = False
    with tracer.span("await drain", spans.STREAMING):
        # done = every offset read, then one more batch (the no-data
        # batch that applies the sentinel's watermark and evicts)
        while time.monotonic() < deadline and query.exception() is None:
            progs = progress_of(query)
            read_all = [i for i, p in enumerate(progs) if offsets(p["sources"][0]["endOffset"]) == ends]
            if read_all and len(progs) > read_all[0] + 1:
                done = True
                break
            time.sleep(0.05)
    error = query.exception()
    query.stop()
    progs = progress_of(query)
    data = [p for p in progs if p.get("numInputRows")]
    drain_s = float("inf")
    if data:
        first = batch_end_us(data[0]) - data[0]["durationMs"]["triggerExecution"] * 1000
        drain_s = (batch_end_us(data[-1]) - first) / 1e6
    with tracer.span("collect windows", spans.STREAMING):
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    got = {(r["start_us"], r["event_type"]): (r["n"], r["cents"]) for r in rows}
    return got, progs, drain_s, done and error is None, query


def seek(spark, topic: str, p: int, lo: int, hi: int):
    from pyspark.sql import functions as F

    df = spark.read.format("cascade_bus").option("path", topic).load()
    return (
        df.filter((F.col("partition") == p) & (F.col("offset") >= lo) & (F.col("offset") < hi))
        .select("offset", "event_id")
        .toArrow()
    )


def _seek_ok(tbl, cols: dict, p: int, lo: int, hi: int) -> bool:
    offs = tbl.column("offset").to_numpy()
    order = np.argsort(offs)
    want = np.arange(lo, hi)
    return np.array_equal(offs[order], want) and np.array_equal(
        tbl.column("event_id").to_numpy()[order], cols["event_id"][want * PARTITIONS + p]
    )


def consume(ctx, topic: str, cols: dict, res: Result, seek_s: float) -> tuple[dict, list]:
    """(a) drain ``topic`` through the windowed aggregation, then (b)
    seeded offset-range seeks for ``seek_s`` seconds (at least
    MIN_SEEKS). Checks and failures go into ``res``; returns the layer
    figures and the seek latencies in ms."""
    spark, tracer = ctx.spark, ctx.tracer
    n_total = len(cols["event_id"])
    got, progs, drain_s, drained, query = drain(
        spark, topic, ctx.path(f"ckpt-{os.path.basename(topic)}"), tracer, n_total
    )
    want = expected_windows(cols)
    wrong, detail = window_diff(got, want)
    unread = max(0, n_total - sum(p.get("numInputRows", 0) for p in progs))
    res.check("drain read every offset", drained and unread == 0, f"{unread} unread")
    res.check("window totals match", wrong == 0, detail)

    rng = np.random.default_rng([ctx.seed, 1])
    per_part = n_total // PARTITIONS
    seek_ms, bad = [], 0
    t_end = time.perf_counter() + seek_s
    while time.perf_counter() < t_end or len(seek_ms) < MIN_SEEKS:
        p = int(rng.integers(0, PARTITIONS))
        length = int(rng.integers(*SEEK_LEN))
        lo = int(rng.integers(0, per_part - length))
        t0 = time.perf_counter()
        with tracer.span("seek", spans.READER, req=len(seek_ms)):
            tbl = seek(spark, topic, p, lo, lo + length)
        seek_ms.append((time.perf_counter() - t0) * 1000.0)
        bad += not _seek_ok(tbl, cols, p, lo, lo + length)
    res.check("seeks return their records", bad == 0, f"{bad} of {len(seek_ms)} wrong")
    res.attempted += n_total + len(seek_ms)
    res.failed += unread + wrong + bad + (not drained)
    res.details.update(drain_s=drain_s, seeks=len(seek_ms), windows=len(want))
    layers = {
        "stream.drain_eps": n_total / drain_s if drained else 0.0,
        "reader.seek_p50_ms": median(seek_ms),
        **stream_layers(progs),
        **job_counts(spark, str(query.runId)),
        "oracle.mismatches": wrong + bad,
    }
    return layers, seek_ms


def run(ctx) -> Result:
    from cascade_spark.sources.cascade_bus import register_bus

    tracer = ctx.tracer
    spark = ctx.start_session()
    topic = ctx.path("backlog")
    cols = backlog(ctx.seed, int(BACKLOG_PER_S * ctx.seconds))
    n_total = len(cols["event_id"])
    with tracer.span("stage backlog", spans.BENCH):
        write_backlog(topic, cols, CHUNK, tracer)
    # warm-up: first Python data-source use of the process
    register_bus(spark)
    t0 = time.perf_counter()
    with tracer.span("first read", spans.READER):
        warm_n = spark.read.format("cascade_bus").option("path", topic).load().count()
    first_pyds_s = time.perf_counter() - t0
    with tracer.span("warm-up seek", spans.READER):
        seek(spark, topic, 0, 0, 1)
    setup_s = time.perf_counter() - ctx.t_process

    res = Result(end_to_end={}, layers={}, attempted=1, failed=int(warm_n != n_total))
    res.check("warm-up read", warm_n == n_total, f"{warm_n} of {n_total}")
    layers, seek_ms = consume(ctx, topic, cols, res, SEEK_SHARE * ctx.seconds)
    res.end_to_end = e2e(setup_s, seek_ms, layers["stream.drain_eps"])
    res.layers = {
        "session.start_s": ctx.session_s,
        "session.first_pyds_s": first_pyds_s,
        **layers,
        **writer_layers(topic),
    }
    if tracer.enabled:
        res.layers.update(reader_layers(topic, MAX_PER_BATCH, tracer))
    return res
