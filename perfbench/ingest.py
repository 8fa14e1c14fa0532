"""``ingest`` — open loop, write-heavy.

One generator thread publishes seeded events through
``BusProducer.publish_all`` into a JSON-lines source topic on a fixed
schedule (RATE events/s in TICK_S ticks), whatever the system does. One
streaming query reads that topic with ``cascade_bus`` on a fixed
processing-time trigger and writes it through the ``cascade_bus`` sink
(parquet segments + atomic ``index.json`` commit). An event's latency
runs from its due time (its ``ts_us``) to the end of the micro-batch that
committed it; the batch is found from the progress ``startOffset`` /
``endOffset`` of the event's (partition, offset). ``window`` runs the
same open loop into a stateful query (:func:`open_loop`).
"""

from __future__ import annotations

import json
import threading
import time

import numpy as np

import gen
import replay
import spans
from workloads import (
    Result,
    batch_end_us,
    e2e,
    job_counts,
    median,
    offsets,
    percentiles,
    progress_of,
    reader_layers,
    stream_layers,
    writer_layers,
)

RATE = 2000  # offered events/s; the current tree keeps up with it on 4 cores
TICK_S = 0.02
# A batch takes ~1.1 s on 4 cores. The trigger, not the previous batch,
# starts each batch, and a window of whole trigger periods sees every
# arrival phase equally often, which keeps latency steady run to run. The
# stateful query's batch time varies more between runs; a longer period
# dilutes that.
TRIGGER = "3 seconds"
STATEFUL_TRIGGER = "5 seconds"
PARTITIONS = 4
WARM = 400  # events committed before the timed window (first-use warm-up)
READ_BATCH = 2000  # rows per direct reader probe read
DRAIN_TIMEOUT_S = 60


def _records(cols: dict, ts_us: np.ndarray, lo: int, hi: int) -> list[dict]:
    return [
        {
            "event_id": int(cols["event_id"][i]),
            "ts_us": int(ts_us[i]),
            "user_id": int(cols["user_id"][i]),
            "event_type": str(cols["event_type"][i]),
            "value": float(cols["value"][i]),
        }
        for i in range(lo, hi)
    ]


class Generator(threading.Thread):
    """Open-loop publisher: tick k at t0 + k*TICK_S publishes every event
    due by then. Lateness of each tick is recorded, never compensated by
    slowing the schedule."""

    def __init__(self, producer, cols, ts_us, first, t0_perf, tracer):
        super().__init__(name="perfbench-generator", daemon=True)
        self.producer, self.cols, self.ts_us = producer, cols, ts_us
        self.first, self.t0, self.tracer = first, t0_perf, tracer
        self.lag_ms: list[float] = []
        self.publish_ms: list[float] = []
        self.accepted: list[int] = []  # event indices in publish order
        self.attempted = 0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self._run()
        except Exception as exc:  # noqa: BLE001 — reported by the main thread
            self.error = exc

    def _run(self) -> None:
        n, i, k = len(self.ts_us), self.first, 1
        while i < n:
            due = self.t0 + k * TICK_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            self.lag_ms.append((time.perf_counter() - due) * 1000.0)
            j = min(n, self.first + int(k * TICK_S * RATE))
            recs = _records(self.cols, self.ts_us, i, j)
            t0 = time.perf_counter()
            with self.tracer.span("BusProducer.publish_all", spans.PRODUCER, req=k):
                before = self.producer.rejected
                self.producer.publish_all(recs)
            self.publish_ms.append((time.perf_counter() - t0) * 1000.0)
            rejected = self.producer.rejected - before
            # the ring admits in order and rejects only when full: the
            # accepted ones are the first len(recs) - rejected
            self.accepted.extend(range(i, j - rejected))
            self.attempted += j - i
            i, k = j, k + 1


def _wait_committed(query, want: dict[int, int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            return False
        prog = query.lastProgress
        if prog is not None:
            prog = json.loads(prog.json)
            if prog["sources"] and offsets(prog["sources"][0]["endOffset"]) == want:
                return True
        time.sleep(0.05)
    return False


def _expected_ends(n_events: int) -> dict[int, int]:
    return {p: (n_events - p + PARTITIONS - 1) // PARTITIONS for p in range(PARTITIONS)}


def _latencies_ms(progs, seqs: np.ndarray, due_us: np.ndarray):
    """Per event, in ms: end of the batch whose offset range holds the
    event's (partition, offset) minus its due time. Events no batch
    committed get NaN."""
    part, off = seqs % PARTITIONS, seqs // PARTITIONS
    commit_us = np.full(len(seqs), np.nan)
    for prog in progs:
        if not prog.get("numInputRows"):
            continue
        src = prog["sources"][0]
        lo, hi = offsets(src["startOffset"]), offsets(src["endOffset"])
        end = batch_end_us(prog)
        for p, h in hi.items():
            hit = (part == p) & (off >= lo.get(p, 0)) & (off < h)
            commit_us[hit] = end
    return (commit_us - due_us) / 1000.0


def run(ctx) -> Result:
    return open_loop(ctx, stateful=False)


def _start_query(ctx, stateful: bool):
    """The query under load: the topic into the ``cascade_bus`` sink, or
    (``stateful``) into a watermarked window count/sum kept in the state
    store, written in complete mode to a memory sink."""
    stream = ctx.spark.readStream.format("cascade_bus").option("path", ctx.path("src")).load()
    if stateful:
        writer = (
            replay.window_counts(stream)
            .writeStream.format("memory")
            .queryName("window_counts")
            .outputMode("complete")
        )
    else:
        writer = (
            stream.writeStream.format("cascade_bus")
            .option("path", ctx.path("sink"))
            .option("numPartitions", str(PARTITIONS))
        )
    return (
        writer.option("checkpointLocation", ctx.path("ckpt"))
        .trigger(processingTime=STATEFUL_TRIGGER if stateful else TRIGGER)
        .start()
    )


def _check_sink(ctx, res: Result, ids: np.ndarray) -> bool:
    """Read the sink topic back: exactly the published set, once each."""
    from pyspark.sql import functions as F

    with ctx.tracer.span("read back sink", spans.READER):
        got = (
            ctx.spark.read.format("cascade_bus")
            .option("path", ctx.path("sink"))
            .load()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("event_id").alias("distinct"),
                F.sum("event_id").alias("sum"),
                F.sum(F.col("event_id") * F.col("event_id")).alias("sum_sq"),
            )
            .collect()[0]
        )
    want = (len(ids), len(ids), int(ids.sum()), int((ids * ids).sum()))
    have = (got["n"], got["distinct"], got["sum"] or 0, got["sum_sq"] or 0)
    res.failed += max(0, have[0] - have[1])  # duplicates
    return res.check("sink holds the published set", have == want, f"have {have} want {want}")


def _check_windows(ctx, res: Result, events: dict) -> bool:
    """The final window counts/sums equal those computed in Python."""
    with ctx.tracer.span("collect windows", spans.STREAMING):
        rows = ctx.spark.sql("SELECT * FROM window_counts").collect()
    got = {(r["start_us"], r["event_type"]): (r["n"], r["cents"]) for r in rows}
    wrong, detail = replay.window_diff(got, replay.expected_windows(events))
    return res.check("window totals match", wrong == 0, detail)


def open_loop(ctx, stateful: bool) -> Result:
    from cascade_spark.sources.cascade_bus import BusProducer, register_bus

    tracer = ctx.tracer
    spark = ctx.start_session()
    src = ctx.path("src")
    rng = np.random.default_rng(ctx.seed)
    n_timed = int(RATE * ctx.seconds)
    cols = gen.event_columns(rng, WARM + n_timed)
    producer = BusProducer(src, num_partitions=PARTITIONS)

    # warm-up: WARM events, then the query's first batch commits them —
    # the first Python data-source use of the process
    now_us = int(time.time() * 1e6)
    ts_us = np.full(WARM + n_timed, now_us, dtype=np.int64)
    with tracer.span("BusProducer.publish_all[warm]", spans.PRODUCER):
        producer.publish_all(_records(cols, ts_us, 0, WARM))
    t0 = time.perf_counter()
    register_bus(spark)
    with tracer.span("writeStream.start", spans.STREAMING):
        query = _start_query(ctx, stateful)
    with tracer.span("await warm-up commit", spans.STREAMING):
        warm_ok = _wait_committed(query, _expected_ends(WARM), DRAIN_TIMEOUT_S)
    first_pyds_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - ctx.t_process

    # timed window: the open-loop generator
    t0_perf, t0_wall_us = time.perf_counter(), int(time.time() * 1e6)
    ts_us[WARM:] = t0_wall_us + (np.arange(n_timed) * 1e6 / RATE).astype(np.int64)
    g = Generator(producer, cols, ts_us, WARM, t0_perf, tracer)
    g.start()
    with tracer.span("generator window", spans.BENCH):
        g.join()
    n_pub = WARM + len(g.accepted)
    with tracer.span("await last commit", spans.STREAMING):
        drained = _wait_committed(query, _expected_ends(n_pub), DRAIN_TIMEOUT_S)
    query_error = query.exception()
    with tracer.span("query.stop", spans.STREAMING):
        query.stop()
    progs = progress_of(query)

    # seq = position in publish order (warm-up first), which fixes the
    # round-robin (partition, offset) of every accepted event
    timed_idx = np.array(g.accepted, dtype=np.int64)
    seqs = WARM + np.arange(len(timed_idx), dtype=np.int64)
    lat_ms = _latencies_ms(progs, seqs, ts_us[timed_idx])
    committed = ~np.isnan(lat_ms)
    # sustained commit rate: rows of the steady batches (after the first
    # timed one, before the last, which holds the tail after the window)
    # over the time between their ends — the offered rate while the
    # pipeline keeps up, its capacity when it falls behind
    steady = [p for p in progs if p.get("numInputRows")][1:]
    rate = 0.0
    if len(steady) >= 3:
        span_s = (batch_end_us(steady[-2]) - batch_end_us(steady[0])) / 1e6
        rate = sum(p["numInputRows"] for p in steady[1:-1]) / span_s
    res = Result(
        end_to_end=e2e(setup_s, lat_ms[committed].tolist(), rate),
        layers={},
        attempted=WARM + g.attempted,
        failed=0,
    )
    res.check("generator", g.error is None, repr(g.error))
    res.check("warm-up committed", warm_ok)
    res.check("stream", query_error is None and drained, str(query_error))
    res.check("publishes accepted", producer.rejected == 0, f"{producer.rejected} rejected")
    res.check("every event's batch found", committed.all(), f"{(~committed).sum()} missing")

    # rejected publishes, events no micro-batch committed, and a failed
    # generator, warm-up or stream; then the output check
    res.failed += (
        producer.rejected
        + int((~committed).sum())
        + (g.error is not None)
        + (not warm_ok)
        + (query_error is not None or not drained)
    )
    published = np.concatenate([np.arange(WARM), timed_idx])
    if stateful:
        events = {k: cols[k][published] for k in ("event_type", "value")}
        events["ts_us"] = ts_us[published]
        output_ok = _check_windows(ctx, res, events)
    else:
        output_ok = _check_sink(ctx, res, cols["event_id"][published])
    res.failed += not output_ok
    res.details.update(
        offered_rate=RATE,
        events_timed=int(n_timed),
        latency_samples=int(committed.sum()),
        batches=[
            (p["numInputRows"], p["durationMs"]) for p in progs if p.get("numInputRows")
        ],
    )
    res.layers = {
        "session.start_s": ctx.session_s,
        "session.first_pyds_s": first_pyds_s,
        "gen.lag_ms": percentiles(g.lag_ms, 99)[0],
        "producer.publish_ms": median(g.publish_ms),
        "producer.accept_ratio": len(g.accepted) / max(1, g.attempted),
        **stream_layers(progs),
        **({} if stateful else writer_layers(ctx.path("sink"))),
        **job_counts(spark, str(query.runId)),
        "oracle.mismatches": sum(1 for _, ok, _ in res.checks if not ok),
    }
    if tracer.enabled:
        res.layers.update(reader_layers(src, READ_BATCH, tracer))
    return res
