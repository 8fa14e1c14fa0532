"""cascade_bus custom source connector — admission control, round-robin
offsets, batch/stream equivalence, micro-batch replay determinism."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pytest

from cascade_spark.sources.cascade_bus import (
    BusProducer,
    BusStreamReader,
    RingBuffer,
    _batches_to_rows,
    register_bus,
    stage_bus_topic,
)


def _input_batch(rows: list[dict]) -> pa.RecordBatch:
    """Arrow input batch shaped like the sink's projected dataframe."""
    return pa.Table.from_pylist(rows).to_batches()[0]


def test_ring_buffer_rejects_on_full():
    rb = RingBuffer(capacity=4)
    assert all(rb.try_push(i) for i in range(4))
    assert not rb.try_push(99)  # full — reject, don't block or drop silently
    assert rb.drain() == [0, 1, 2, 3]
    assert rb.try_push(99)  # drained slot admits again


def test_producer_round_robin_and_dense_offsets(tmp_path):
    topic = str(tmp_path / "t")
    prod = BusProducer(topic, num_partitions=3, capacity=8)
    n = prod.publish_all([{"event_id": i, "ts_us": 0, "user_id": 0, "event_type": "x", "value": 0.0} for i in range(10)])
    assert n == 10 and prod.rejected == 0
    reader = BusStreamReader({"path": topic})
    rows = _batches_to_rows(
        reader.readBetweenOffsets({"0": 0, "1": 0, "2": 0}, {"0": 4, "1": 3, "2": 3})
    )
    # event i → partition i % 3, offset i // 3, no gaps
    for part, off, event_id, *_ in rows:
        assert part == event_id % 3
        assert off == event_id // 3


def test_producer_overrun_rejects(tmp_path):
    topic = str(tmp_path / "t")
    prod = BusProducer(topic, num_partitions=2, capacity=4)
    accepted = prod.publish([{"event_id": i, "ts_us": 0, "user_id": 0, "event_type": "x", "value": 0.0} for i in range(10)])
    assert accepted == 4 and prod.rejected == 6  # reference acks 0 past capacity
    assert prod.flush() == 4  # only admitted records reach the logs
    rows = _batches_to_rows(
        BusStreamReader({"path": topic}).readBetweenOffsets({"0": 0, "1": 0}, {"0": 2, "1": 2})
    )
    assert sorted(r[2] for r in rows) == [0, 1, 2, 3]


def test_producer_resumes_offsets_across_instances(tmp_path):
    topic = str(tmp_path / "t")
    mk = lambda i: {"event_id": i, "ts_us": 0, "user_id": 0, "event_type": "x", "value": 0.0}
    BusProducer(topic, num_partitions=2).publish_all([mk(i) for i in range(5)])
    p2 = BusProducer(topic, num_partitions=2)  # new producer, same logs
    p2.publish_all([mk(i) for i in range(5, 9)])
    reader = BusStreamReader({"path": topic})
    ends = {"0": 5, "1": 4}
    rows = sorted(
        _batches_to_rows(reader.readBetweenOffsets({"0": 0, "1": 0}, ends)),
        key=lambda r: r[2],
    )
    assert [r[2] for r in rows] == list(range(9))
    for part, off, event_id, *_ in rows:
        assert part == event_id % 2 and off == event_id // 2


def test_torn_tail_is_neither_read_nor_resumed_from(tmp_path):
    """Bytes past a log's committed length (a half-written line) are
    invisible to readers, and a resumed producer cuts them off."""
    import os

    topic = str(tmp_path / "t")
    mk = lambda i: {"event_id": i, "ts_us": 0, "user_id": 0, "event_type": "x", "value": 0.0}
    BusProducer(topic, num_partitions=2).publish_all([mk(i) for i in range(10)])
    with open(os.path.join(topic, "p0.jsonl"), "a") as fh:
        fh.write('{"event_id": 10, "ts_us": 0, "us')
    reader = BusStreamReader({"path": topic})
    batches, ends = reader.read(reader.initialOffset())
    assert sorted(r[2] for r in _batches_to_rows(batches)) == list(range(10))
    assert ends == {"0": 5, "1": 5}
    with pytest.raises(ValueError):  # the index fixes the partition count
        BusProducer(topic, num_partitions=3)
    BusProducer(topic, num_partitions=2).publish_all([mk(i) for i in range(10, 14)])
    batches, ends = reader.read(reader.initialOffset())
    rows = _batches_to_rows(batches)
    assert sorted(r[2] for r in rows) == list(range(14)) and ends == {"0": 7, "1": 7}
    for part, off, event_id, *_ in rows:
        assert part == event_id % 2 and off == event_id // 2


def test_batch_stream_equivalence_multi_batch(spark, sf_dir):
    """Capped micro-batches must drain the full backlog with no loss or
    duplication, matching the parallel batch read exactly."""
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    batch = spark.read.format("cascade_bus").option("path", topic).load()
    s = (
        spark.readStream.format("cascade_bus")
        .option("path", topic)
        .option("maxRecordsPerBatch", "300")
        .load()
    )
    name = "bus" + uuid.uuid4().hex[:8]
    q = (
        s.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.table(name)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "cap should force multiple micro-batches"
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_read_between_offsets_replay_deterministic(spark, sf_dir):
    """Replaying an uncommitted batch (checkpoint recovery path) returns
    byte-identical rows."""
    topic = stage_bus_topic(spark, sf_dir)
    reader = BusStreamReader({"path": topic})
    start = {str(p): 3 for p in range(4)}
    end = {str(p): 17 for p in range(4)}
    a = _batches_to_rows(reader.readBetweenOffsets(start, end))
    b = _batches_to_rows(reader.readBetweenOffsets(start, end))
    assert a == b and len(a) == 4 * 14


def test_sink_commit_batch_idempotent(tmp_path):
    """Replaying a committed micro-batch (restart-after-commit) must not
    duplicate data: the second commit drops its segments."""
    import os

    from cascade_spark.sources.cascade_bus import (
        BusStreamWriter,
        _load_index,
        _log_lens,
    )

    topic = str(tmp_path / "t")
    w = BusStreamWriter({"path": topic, "numpartitions": "2"}, overwrite=False)

    def rows(lo, hi):
        return [
            _input_batch(
                [
                    dict(partition=i % 2, event_id=i, ts_us=0, user_id=0, event_type="x", value=0.0)
                    for i in range(lo, hi)
                ]
            )
        ]

    m1 = w.write(iter(rows(0, 10)))
    w.commit([m1], batchId=0)
    assert _log_lens(topic) == {"0": 5, "1": 5}
    # replay of batch 0 (same data rewritten by a restarted task)
    m1b = w.write(iter(rows(0, 10)))
    w.commit([m1b], batchId=0)
    assert _log_lens(topic) == {"0": 5, "1": 5}, "replayed batch must be dropped"
    # the replay's orphan segments are cleaned up
    seg_files = os.listdir(os.path.join(topic, "segments"))
    assert len(seg_files) == sum(
        len(v) for v in _load_index(topic)["segments"].values()
    )
    # a NEW batch appends
    m2 = w.write(iter(rows(10, 14)))
    w.commit([m2], batchId=1)
    assert _log_lens(topic) == {"0": 7, "1": 7}


def test_sink_abort_deletes_segments(tmp_path):
    import os

    from cascade_spark.sources.cascade_bus import BusBatchWriter, _log_lens

    topic = str(tmp_path / "t")
    w = BusBatchWriter({"path": topic, "numpartitions": "2"}, overwrite=False)

    msg = w.write(
        iter(
            [
                _input_batch(
                    [dict(partition=0, event_id=1, ts_us=0, user_id=0, event_type="x", value=0.0)]
                )
            ]
        )
    )
    assert len(os.listdir(os.path.join(topic, "segments"))) == 1
    w.abort([msg])
    assert os.listdir(os.path.join(topic, "segments")) == []
    # nothing was ever committed: no index, no visible partitions
    assert _log_lens(topic) == {}


def test_stream_sink_checkpoint_rerun_no_duplicates(spark, sf_dir):
    """Re-starting the completed streaming write with the same checkpoint
    must add nothing (exactly-once across restarts)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from cascade_spark.streaming.pipeline import stage_stream_input

    register_bus(spark)
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
    tmp = tempfile.mkdtemp(prefix="bus_rerun_")
    target = os.path.join(tmp, "t")

    def run():
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(indir)
        proj = src.select(
            F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("partition"),
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        q = (
            proj.writeStream.format("cascade_bus")
            .option("path", target)
            .option("numPartitions", "4")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    n1 = spark.read.format("cascade_bus").option("path", target).load().count()
    run()  # same checkpoint: nothing new to process
    n2 = spark.read.format("cascade_bus").option("path", target).load().count()
    assert n1 == n2 > 0


def test_batch_reader_filter_pushdown_prunes(tmp_path):
    """partition equality prunes splits at planning; offset bounds become
    the segment-chain row slice (the broker's index seek)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        IsNotNull,
        LessThan,
        Not,
        StringContains,
    )

    from cascade_spark.sources.cascade_bus import BusBatchReader

    topic = str(tmp_path / "t")
    BusProducer(topic, num_partitions=3).publish_all(
        [dict(event_id=i, ts_us=0, user_id=0, event_type="x", value=0.0) for i in range(30)]
    )
    r = BusBatchReader({"path": topic})
    unsupported = StringContains(("event_type",), "x")
    leftover = list(
        r.pushFilters(
            [
                EqualTo(("partition",), 1),
                GreaterThanOrEqual(("offset",), 2),
                LessThan(("offset",), 5),
                unsupported,
            ]
        )
    )
    assert leftover == [unsupported]  # only the non-native filter remains
    parts = r.partitions()
    assert [p.value for p in parts] == [1]
    rows = _batches_to_rows(r.read(parts[0]))
    assert [(x[0], x[1]) for x in rows] == [(1, 2), (1, 3), (1, 4)]
    # event i → partition i % 3, offset i // 3
    assert [x[2] for x in rows] == [7, 10, 13]
    # what Spark pushes for "offset = 4 AND partition <> 1": the point
    # lookup is the range [4, 5) in every partition, and only the Not,
    # which the reader does not absorb, is left to filter post-scan
    r = BusBatchReader({"path": topic})
    neq = Not(EqualTo(("partition",), 1))
    assert list(r.pushFilters([IsNotNull(("offset",)), EqualTo(("offset",), 4), neq])) == [neq]
    rows = [x for part in r.partitions() for x in _batches_to_rows(r.read(part))]
    assert [(x[0], x[1], x[2]) for x in rows] == [(0, 4, 12), (1, 4, 13), (2, 4, 14)]


def test_batch_reader_pushdown_end_to_end(spark, sf_dir):
    """The pushed-down scan returns exactly what the unpushed scan +
    post-filter returns."""
    topic = stage_bus_topic(spark, sf_dir)
    register_bus(spark)
    df = spark.read.format("cascade_bus").option("path", topic).load()
    pushed = df.filter("partition = 3 AND offset >= 10 AND offset <= 20").collect()
    full = [
        r
        for r in spark.read.format("cascade_bus").option("path", topic).load().collect()
        if r.partition == 3 and 10 <= r.offset <= 20
    ]
    assert sorted(map(tuple, pushed)) == sorted(map(tuple, full)) and len(pushed) == 11
