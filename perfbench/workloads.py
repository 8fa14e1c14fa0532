"""Shared run context, Spark-side measurement helpers and the dispatch
from workload name to workload module."""

from __future__ import annotations

import importlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import spans

# end-to-end metrics, printed by every workload with --trace 0
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

# per-layer metrics, printed by every workload with --trace 1
LAYER_UNITS = {
    "session.start_s": "s",
    "session.first_pyds_s": "s",
    "gen.lag_ms": "ms",
    "producer.publish_ms": "ms",
    "producer.accept_ratio": "ratio",
    "reader.read_ms_head": "ms",
    "reader.read_ms_tail": "ms",
    "reader.rows_per_s": "1/s",
    "reader.seek_p50_ms": "ms",
    "stream.drain_eps": "1/s",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.batches": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "writer.segments": "count",
    "writer.rows_per_segment": "count",
    "writer.index_bytes": "bytes",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "oracle.mismatches": "count",
    "failed_frac": "ratio",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
    "trace.latency_p50_ms": "ms",
} | {f"self.{layer}_ms": "ms" for layer in spans.LAYERS}


@dataclass
class Ctx:
    run_dir: str
    seed: int
    seconds: float
    tracer: object
    t_process: float
    spark: object = None
    session_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_session(self):
        """The program's own session factory, on at most 4 local cores."""
        from cascade_spark.session import get_spark

        cores = min(os.cpu_count() or 1, 4)
        t0 = time.perf_counter()
        with self.tracer.span("get_spark", spans.SESSION):
            self.spark = get_spark("perfbench", cores=cores)
            # keep every micro-batch's progress, not the last 100
            self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        self.session_s = time.perf_counter() - t0
        return self.spark


@dataclass
class Result:
    end_to_end: dict
    layers: dict
    attempted: int
    failed: int
    checks: list = field(default_factory=list)
    details: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def e2e(setup_s: float, lat_ms: list[float], throughput: float) -> dict:
    p50, p90 = percentiles(lat_ms, 50, 90)
    vals = {
        "setup_s": setup_s,
        "latency_p50_ms": p50,
        "latency_p90_ms": p90,
        "throughput_per_s": throughput,
    }
    return {k: metric(v, E2E_UNITS[k]) for k, v in vals.items()}


def percentiles(xs, *ps) -> list[float]:
    """Nearest-rank percentiles (a measured sample, never interpolated)."""
    s = sorted(xs)
    if not s:
        return [0.0] * len(ps)
    return [s[min(len(s) - 1, max(0, -(-p * len(s) // 100) - 1))] for p in ps]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# --- Spark progress and status --------------------------------------------


def progress_of(query) -> list[dict]:
    """Every StreamingQueryProgress of ``query`` as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def batch_end_us(prog: dict) -> int:
    """Wall-clock end of a micro-batch: trigger start + its duration."""
    start = datetime.fromisoformat(prog["timestamp"].replace("Z", "+00:00"))
    return int(start.timestamp() * 1e6) + int(prog["durationMs"].get("triggerExecution", 0)) * 1000


def offsets(raw) -> dict[int, int]:
    if raw is None:
        return {}
    if isinstance(raw, str):
        raw = json.loads(raw)
    return {int(k): int(v) for k, v in raw.items()}


def stream_layers(progs: list[dict]) -> dict:
    """Median per-batch phase times and final state figures over the
    batches that read data."""
    data = [p for p in progs if p.get("numInputRows", 0) > 0]

    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in data)

    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    out = {
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.batches": len(data),
    }
    if ops:
        out["state.rows_total"] = max(o.get("numRowsTotal", 0) for o in ops)
        out["state.memory_bytes"] = max(o.get("memoryUsedBytes", 0) for o in ops)
        out["state.commit_ms"] = median(o.get("commitTimeMs", 0) for o in ops)
    return out


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group
    (SparkStatusTracker)."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return {"query.jobs": len(jobs), "query.stages": stages, "query.tasks": tasks}


def writer_layers(topic_dir: str) -> dict:
    """Segment chain the cascade_bus sink committed to ``topic_dir``."""
    idx_path = os.path.join(topic_dir, "index.json")
    with open(idx_path) as fh:
        idx = json.load(fh)
    segs = [s for chain in idx["segments"].values() for s in chain]
    return {
        "writer.segments": len(segs),
        "writer.rows_per_segment": sum(s["n"] for s in segs) / max(1, len(segs)),
        "writer.index_bytes": os.path.getsize(idx_path),
    }


def reader_layers(topic_dir: str, batch: int, tracer) -> dict:
    """Direct, single-threaded BusStreamReader reads with no Spark: one
    ``batch``-row read at the head and one at the tail of the log, then a
    drain of the whole topic in ``batch``-row reads."""
    from cascade_spark.sources.cascade_bus import BusStreamReader

    rdr = BusStreamReader({"path": topic_dir, "maxrecordsperbatch": str(batch)})
    # log ends: one uncapped read from the start
    _, ends = BusStreamReader({"path": topic_dir}).read(rdr.initialOffset())
    per = batch // len(ends)

    def timed_read(start, tag):
        t0 = time.perf_counter()
        with tracer.span(f"BusStreamReader.read[{tag}]", spans.READER):
            it, end = rdr.read(start)
            rows = sum(b.num_rows for b in it)
        return (time.perf_counter() - t0) * 1000.0, rows, end

    head_ms, _, _ = timed_read({p: 0 for p in ends}, "head")
    tail_ms, _, _ = timed_read({p: max(0, n - per) for p, n in ends.items()}, "tail")
    start, rows, t0 = {p: 0 for p in ends}, 0, time.perf_counter()
    while start != ends:
        _, n, start = timed_read(start, "drain")
        rows += n
    return {
        "reader.read_ms_head": head_ms,
        "reader.read_ms_tail": tail_ms,
        "reader.rows_per_s": rows / (time.perf_counter() - t0),
    }


# --- dispatch ---------------------------------------------------------------


def run(name: str, ctx: Ctx) -> Result:
    res = importlib.import_module(name).run(ctx)
    if ctx.tracer.enabled:
        # a traced run also drives, in a short fixed probe, every layer the
        # workload itself did not, so each per-layer figure is measured
        import probe

        missing = [k for k in LAYER_UNITS if k not in res.layers]
        res.details["probed_layers"] = probe.fill(ctx, res, missing)
    return res


def layer_metrics(ctx: Ctx, res: Result) -> dict:
    tracer = ctx.tracer
    layers = dict(res.layers)
    cost_ms = tracer.span_cost_ms()
    wall_ms = (time.perf_counter() - ctx.t_process) * 1000.0
    self_ms = tracer.self_ms_by_layer()
    layers.update(
        {
            "failed_frac": res.failed / max(1, res.attempted),
            "trace.spans": len(tracer.spans),
            "trace.overhead_ms": cost_ms * len(tracer.spans),
            "trace.overhead_frac": cost_ms * len(tracer.spans) / wall_ms,
            "trace.latency_p50_ms": res.end_to_end["latency_p50_ms"]["value"],
        }
        | {f"self.{layer}_ms": self_ms.get(layer, 0.0) for layer in spans.LAYERS}
    )
    return {k: metric(layers[k], unit) for k, unit in LAYER_UNITS.items()}
