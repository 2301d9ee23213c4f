"""C20 streaming materialization: after all batches, the snapshot must
equal batch C3 over the full input (FIXTURES F7 semantics), including
late rows arriving in a later batch."""

import os
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from embeddinghub_spark.operators.materialize import materialize
from embeddinghub_spark.streaming.kafka import kafka_records
from embeddinghub_spark.streaming.stream_materialize import (
    StreamingSnapshot,
    streaming_materialize,
)

SCHEMA = StructType(
    [
        StructField("entity", StringType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampNTZType()),
    ]
)


def _ts(s):
    return datetime.fromisoformat(s)


def test_streaming_equals_batch_c3(spark):
    batches = [
        [("a", 1.0, _ts("2024-01-01T00:00:00")), ("b", 5.0, _ts("2024-01-01T01:00:00"))],
        [("a", 2.0, _ts("2024-01-02T00:00:00")), ("c", 7.0, _ts("2024-01-01T00:00:00"))],
        # batch 3 contains a LATE row for a (ts < batch 2's) — must not win
        [("a", 99.0, _ts("2024-01-01T12:00:00")), ("b", 6.0, _ts("2024-01-02T00:00:00"))],
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "in")
        os.makedirs(src)
        snapshot = StreamingSnapshot()
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stream = spark.readStream.schema(SCHEMA).parquet(src)
            q = streaming_materialize(
                stream, snapshot, checkpoint_dir=os.path.join(d, "ckpt")
            )
            assert q.awaitTermination(60), "stream did not terminate in 60s"

        full = spark.createDataFrame(
            [r for b in batches for r in b], SCHEMA
        )
        batch_c3 = {
            r["entity"]: r["value"] for r in materialize(full).collect()
        }
        assert snapshot.items() == batch_c3
        assert snapshot.get("a") == 2.0  # late row did not overwrite


def test_kafka_record_parsing(spark):
    # kafka connector absent → exercise the value-parse plan on an
    # equivalent in-memory frame with kafka's (key, value, timestamp) shape
    raw = spark.createDataFrame(
        [
            (b"k1", b'{"entity": "a", "value": 1.5, "ts": "2024-01-01T00:00:00"}',
             _ts("2024-01-01T00:00:01")),
            (b"k2", b'not json at all', _ts("2024-01-01T00:00:02")),
        ],
        StructType([
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("timestamp", TimestampNTZType()),
        ]),
    )
    recs = kafka_records(raw, SCHEMA).collect()
    good = [r for r in recs if r["entity"] == "a"]
    assert len(good) == 1
    assert good[0]["value"] == 1.5
    assert good[0]["kafka_key"] == "k1"
    bad = [r for r in recs if r["entity"] is None]
    assert len(bad) == 1  # malformed JSON → nulls, row preserved


def test_kafka_corrupt_payload_modes(spark):
    """Corrupt-payload behavior is a pinned choice, not an accident:
    null keeps the row (fields nulled, metadata traceable), drop
    filters it, fail poisons the batch."""
    import pytest as _pytest

    payloads = [
        (b"k1", b'{"entity": "a", "value": 1.5, "ts": "2024-01-01T00:00:00"}'),
        (b"k2", b'{"entity": "b", "value": '),  # truncated
        (b"k3", b""),                           # empty: corrupt
        (b"k4", b"\xff\xfe garbage"),           # not utf8 json
        (b"k5", b'{"entity": "c"}'),            # partial: missing fields OK
        (b"k6", None),                          # tombstone: NOT corrupt
    ]
    raw = spark.createDataFrame(
        [(k, v, _ts("2024-01-01T00:00:01")) for k, v in payloads],
        StructType([
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("timestamp", TimestampNTZType()),
        ]),
    )
    nulled = kafka_records(raw, SCHEMA, on_corrupt="null").collect()
    assert len(nulled) == 6
    assert {r["kafka_key"] for r in nulled if r["entity"] is None} == {
        "k2", "k3", "k4", "k6"
    }

    dropped = kafka_records(raw, SCHEMA, on_corrupt="drop").collect()
    # tombstone k6 SURVIVES drop mode: a deletion marker is signal
    assert {r["kafka_key"] for r in dropped} == {"k1", "k5", "k6"}
    partial = [r for r in dropped if r["kafka_key"] == "k5"][0]
    assert partial["entity"] == "c" and partial["value"] is None

    with _pytest.raises(Exception):
        kafka_records(raw, SCHEMA, on_corrupt="fail").collect()
    # fail mode passes clean + tombstone rows through
    clean = raw.filter(F.col("key").isin([b"k1", b"k6"]))
    ok = kafka_records(clean, SCHEMA, on_corrupt="fail").collect()
    assert {r["kafka_key"] for r in ok} == {"k1", "k6"}
    with _pytest.raises(ValueError):
        kafka_records(raw, SCHEMA, on_corrupt="bogus")


def test_windowed_aggregate_stream_equals_batch(spark, tmp_path):
    """Event-time tumbling windows: streaming result (complete mode)
    must equal the same window expression computed in batch."""
    from datetime import datetime

    from embeddinghub_spark.streaming.windows import windowed_aggregate

    rows = [
        (f"u{i % 3}", float(i), datetime(2024, 1, 1, i % 24, (i * 7) % 60))
        for i in range(200)
    ]
    src = spark.createDataFrame(rows, ["entity", "value", "ts"])
    in_dir = str(tmp_path / "win_in")
    src.repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    aggs = {"n": "count(*)", "total": "sum(value)"}
    windowed = windowed_aggregate(stream, "ts", "1 hour", aggs, group_cols=["entity"])
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    got = {
        (r["window_start"], r["entity"]): (r["n"], r["total"])
        for r in spark.table("win_test").collect()
    }
    expected = {
        (r["window_start"], r["entity"]): (r["n"], r["total"])
        for r in windowed_aggregate(src, "ts", "1 hour", aggs, group_cols=["entity"]).collect()
    }
    assert got == expected and len(got) > 10


def test_stateful_latest_equals_batch_materialize(spark, tmp_path):
    """applyInPandasWithState latest-per-entity across micro-batches
    must converge to batch C3."""
    from datetime import datetime

    from embeddinghub_spark.operators.materialize import materialize
    from embeddinghub_spark.streaming.windows import stateful_latest

    rows = [
        (f"u{i % 5}", float(i), datetime(2024, 1, 1 + (i * 3) % 27))
        for i in range(100)
    ]
    src = spark.createDataFrame(rows, ["entity", "value", "ts"])
    in_dir = str(tmp_path / "state_in")
    src.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    updates: dict = {}

    def drain(batch_df, batch_id):
        for r in batch_df.collect():
            updates[r["entity"]] = (r["value"], r["ts"])

    q = (
        stateful_latest(stream)
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    expected = {r["entity"]: (r["value"], r["ts"]) for r in materialize(src).collect()}
    assert updates == expected


def test_sessionize_exact_gap_boundary_merges(spark):
    """Pins Spark session_window's boundary rule (and therefore the
    f9_sessionize oracle SQL): an event landing EXACTLY gap after the
    session's last event MERGES; one second past the gap starts a new
    session. session_end = last event ts + gap."""
    from datetime import datetime

    from embeddinghub_spark.streaming.windows import sessionize

    rows = [
        ("u", 1.0, datetime(2020, 1, 1, 0, 0, 0)),
        ("u", 2.0, datetime(2020, 1, 1, 1, 0, 0)),   # == gap after prev: merge
        ("u", 3.0, datetime(2020, 1, 1, 1, 59, 59)),  # < gap: merge
        ("u", 4.0, datetime(2020, 1, 1, 3, 0, 0)),   # gap + 1s: new session
    ]
    src = spark.createDataFrame(rows, ["user_id", "value", "ts"])
    out = sessionize(
        src, "ts", "1 hour", group_cols=["user_id"],
        aggs={"n_events": "count(*)", "vsum": "sum(value)"},
    ).orderBy("session_start").collect()
    assert [(r["n_events"], r["vsum"]) for r in out] == [(3, 6.0), (1, 4.0)]
    assert out[0]["session_end"] == datetime(2020, 1, 1, 2, 59, 59)
    assert out[1]["session_start"] == datetime(2020, 1, 1, 3, 0, 0)
    assert out[1]["session_end"] == datetime(2020, 1, 1, 4, 0, 0)


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """Streaming session windows (watermarked state) across multi-file
    micro-batches must equal the batch sessionize over the same rows."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.streaming.windows import sessionize

    base = datetime(2024, 1, 1)
    rows = [
        (f"u{i % 4}", float(i), base + timedelta(minutes=(i * 37 * 97) % (30 * 24 * 60)))
        for i in range(200)
    ]
    src = spark.createDataFrame(rows, ["user_id", "value", "ts"])
    in_dir = str(tmp_path / "sess_in")
    src.repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    aggs = {"n_events": "count(*)", "vsum": "sum(value)"}
    # each micro-batch file spans the whole 30-day range, so the
    # watermark must cover the full disorder horizon or later batches'
    # rows are (correctly) evicted as late — which is the semantics
    # under test, not a bug
    sess = sessionize(
        stream, "ts", "2 hours", group_cols=["user_id"], aggs=aggs,
        watermark_delay="720 hours",
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    key = lambda r: (r["user_id"], r["session_start"])
    got = {key(r): (r["session_end"], r["n_events"], r["vsum"])
           for r in spark.table("sess_test").collect()}
    expected = {key(r): (r["session_end"], r["n_events"], r["vsum"])
                for r in sessionize(src, "ts", "2 hours", group_cols=["user_id"], aggs=aggs).collect()}
    assert got == expected and len(got) > 10


def test_streaming_dedup_equals_batch(spark, tmp_path):
    """At-least-once replay dedup: duplicates re-delivered across
    micro-batches must be dropped; surviving row set == batch
    dropDuplicates over the same input."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.streaming.windows import streaming_dedup

    base = datetime(2024, 1, 1)
    # 120 logical events, each delivered twice (ids repeat i % 60)
    rows = [
        (i % 60, f"doc{i % 60}", base + timedelta(minutes=i % 60))
        for i in range(120)
    ]
    src = spark.createDataFrame(rows, ["event_id", "payload", "ts"])
    in_dir = str(tmp_path / "dedup_in")
    src.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    deduped = streaming_dedup(
        stream, ["event_id"], ts_col="ts", watermark_delay="2 hours"
    )
    got: set = set()

    def drain(batch_df, batch_id):
        for r in batch_df.collect():
            assert r["event_id"] not in got, "duplicate emitted"
            got.add(r["event_id"])

    q = (
        deduped.writeStream.foreachBatch(drain)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    expected = {r["event_id"] for r in streaming_dedup(src, ["event_id"]).collect()}
    assert got == expected and len(got) == 60


def test_streaming_incremental_dedup_index(spark):
    """Streaming + incremental dedup composed: each micro-batch of
    documents is probed against the on-disk MinHash band index BEFORE
    being appended to it — so a near-copy arriving later is flagged
    against the standing corpus, first occurrences never are, and the
    corpus text is never re-read."""
    from pyspark.sql.types import LongType

    from embeddinghub_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_probe,
    )

    doc_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    batches = [
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different content about spark engines here")],
        [(3, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
         (4, "fresh unrelated material about columnar storage formats")],
    ]
    flagged: list[tuple[int, int]] = []

    with tempfile.TemporaryDirectory() as d:
        src, idx = os.path.join(d, "in"), os.path.join(d, "idx")
        os.makedirs(src)

        def probe_then_append(batch_df, batch_id):
            if os.path.exists(idx):
                for r in minhash_index_probe(spark, idx, batch_df).collect():
                    flagged.append((r["probe_id"], r["index_id"]))
            minhash_index_append(spark, idx, batch_df)

        for rows in batches:
            spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                spark.readStream.schema(doc_schema)
                .parquet(src)
                .writeStream.foreachBatch(probe_then_append)
                .option("checkpointLocation", os.path.join(d, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120), "stream did not terminate in 120s"

    assert flagged == [(3, 1)]  # the later near-copy, nothing else


def test_sliding_window_stream_equals_batch(spark, tmp_path):
    """Watermarked SLIDING windows across micro-batches ≡ the batch
    window frame — the replay pin tumbling/session already have
    (round-3 next-round item #7). Overlapping windows mean every event
    lands in window_duration/slide frames; equality pins both the
    assignment arithmetic and the streaming state handling."""
    from datetime import datetime

    from embeddinghub_spark.streaming.windows import windowed_aggregate

    rows = [
        (f"u{i % 3}", float(i), datetime(2024, 1, 1, i % 24, (i * 7) % 60))
        for i in range(200)
    ]
    src = spark.createDataFrame(rows, ["entity", "value", "ts"])
    in_dir = str(tmp_path / "slide_in")
    src.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    aggs = {"n": "count(*)", "total": "sum(value)"}
    windowed = windowed_aggregate(
        stream, "ts", "1 hour", aggs, group_cols=["entity"], slide="15 minutes"
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    got = {
        (r["window_start"], r["entity"]): (r["n"], r["total"])
        for r in spark.table("slide_test").collect()
    }
    expected = {
        (r["window_start"], r["entity"]): (r["n"], r["total"])
        for r in windowed_aggregate(
            src, "ts", "1 hour", aggs, group_cols=["entity"], slide="15 minutes"
        ).collect()
    }
    assert got == expected
    # sliding really overlapped: ~4 windows per event vs tumbling's 1
    assert len(got) > len(
        windowed_aggregate(src, "ts", "1 hour", aggs, group_cols=["entity"])
        .collect()
    )


def test_kafka_corrupt_payload_modes_e2e_stream(spark, tmp_path):
    """Round-3 next-round item #8: drive kafka_records' null/drop/fail
    policies through ACTUAL micro-batch execution — a file stream
    standing in for the Kafka source feeds the same parse expressions
    (the Kafka connector JAR is absent here; the parse plan is
    source-agnostic, so only `.load()` differs)."""
    import pytest as _pytest

    payloads = [
        (b"k1", b'{"entity": "a", "value": 1.5, "ts": "2024-01-01T00:00:00"}'),
        (b"k2", b'{"entity": "b", "value": '),  # truncated: corrupt
        (b"k3", b'{"entity": "c"}'),            # partial: missing fields OK
        (b"k4", None),                          # tombstone: NOT corrupt
    ]
    raw_schema = StructType([
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("timestamp", TimestampNTZType()),
    ])
    raw = spark.createDataFrame(
        [(k, v, _ts("2024-01-01T00:00:01")) for k, v in payloads], raw_schema
    )
    in_dir = str(tmp_path / "kafka_in")
    raw.repartition(2).write.parquet(in_dir)

    def run_stream(mode, name):
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            kafka_records(stream, SCHEMA, on_corrupt=mode)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
        return finished, spark.table(name).collect()

    ok, nulled = run_stream("null", "kafka_null_e2e")
    assert ok and len(nulled) == 4
    assert {r["kafka_key"] for r in nulled if r["entity"] is None} == {"k2", "k4"}

    ok, dropped = run_stream("drop", "kafka_drop_e2e")
    assert ok and {r["kafka_key"] for r in dropped} == {"k1", "k3", "k4"}

    # fail mode must poison the MICRO-BATCH: the query itself dies
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException):
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            kafka_records(stream, SCHEMA, on_corrupt="fail")
            .writeStream.format("memory")
            .queryName("kafka_fail_e2e")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_decayed_counter_order_independent_replay(spark, tmp_path):
    """The decayed-count state is a commutative fold (sum-at-reference
    formulation), so ARBITRARY micro-batch arrival order must converge
    to the batch truth: S = sum(0.5^((max_ts - t)/hl)) per entity."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.streaming.windows import decayed_counter

    base = datetime(2024, 1, 1)
    rows = [
        (f"u{i % 5}", base + timedelta(minutes=(i * 37) % 600))
        for i in range(100)
    ]
    src = spark.createDataFrame(rows, ["entity", "ts"])
    in_dir = str(tmp_path / "dc_in")
    # random repartition -> files (and thus batches) in arbitrary order
    src.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["entity"]] = (r["decayed_count"], r["ref_ts"])

    q = (
        decayed_counter(stream, half_life_seconds=3600.0)
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"

    hl = 3600.0
    want: dict = {}
    by_entity: dict = {}
    for e, t in rows:
        by_entity.setdefault(e, []).append(t)
    for e, ts in by_entity.items():
        ref = max(ts)
        s = sum(0.5 ** ((ref - t).total_seconds() / hl) for t in ts)
        want[e] = (s, ref)
    assert set(final) == set(want)
    for e in want:
        got_s, got_ref = final[e]
        assert got_ref == want[e][1], e
        assert abs(got_s - want[e][0]) < 1e-9 * max(1.0, want[e][0]), (
            e, got_s, want[e][0],
        )


def test_decayed_count_batch_matches_streaming_state(spark, tmp_path):
    """The batch twin must equal what the streaming state converges to
    after draining the same events (the backfill-seeds-streaming
    contract)."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.streaming.windows import (
        decayed_count_batch,
        decayed_counter,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (f"u{i % 3}", base + timedelta(seconds=(i * 791) % 7200, microseconds=i * 137))
        for i in range(60)
    ]
    src = spark.createDataFrame(rows, ["entity", "ts"])
    in_dir = str(tmp_path / "dcb_in")
    src.repartition(3).write.parquet(in_dir)
    # compare against the parquet-read frame: the session writes
    # TIMESTAMP_MILLIS parquet (oracle byte-parity), so the stream's
    # input is ms-truncated — both sides must see identical events
    persisted = spark.read.parquet(in_dir)
    batch = {
        r["entity"]: (r["decayed_count"], r["ref_ts"])
        for r in decayed_count_batch(persisted, half_life_seconds=600.0).collect()
    }
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["entity"]] = (r["decayed_count"], r["ref_ts"])

    q = (
        decayed_counter(stream, half_life_seconds=600.0)
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dcb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert set(final) == set(batch)
    for e in batch:
        assert final[e][1] == batch[e][1]
        # batch rounds terms to 9 decimals (oracle protocol); streaming
        # folds raw doubles — equal within that rounding budget
        assert abs(final[e][0] - batch[e][0]) < 1e-6, (e, final[e], batch[e])


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (both sides file streams, both
    watermarked): the appended result must equal the batch theta join
    — the attribution pairs are identical however the micro-batches
    slice the inputs."""
    from datetime import datetime

    from embeddinghub_spark.streaming.windows import stream_interval_join

    def at(minute):
        return datetime(2024, 3, 1, 12 + minute // 60, minute % 60)

    clicks = [(i % 4, at(i), 1000 + i) for i in range(40)]
    buys = [(i % 4, at(i + (i % 7)), 2000 + i) for i in range(40)]
    cdf = spark.createDataFrame(clicks, ["user_id", "l_ts", "click_id"])
    bdf = spark.createDataFrame(buys, ["user_id", "r_ts", "purchase_id"])
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    cdf.repartition(4).write.parquet(cdir)
    bdf.repartition(4).write.parquet(bdir)

    cstream = (
        spark.readStream.schema(cdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(cdir)
    )
    bstream = (
        spark.readStream.schema(bdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(bdir)
    )
    joined = stream_interval_join(
        cstream, bstream, "user_id", "l_ts", "r_ts",
        "0 seconds", "5 minutes", watermark="1 day",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sij_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.table("sij_test").collect()
    }
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in stream_interval_join(
            cdf, bdf, "user_id", "l_ts", "r_ts", "0 seconds", "5 minutes"
        ).collect()
    }
    assert got == expected and len(expected) > 20


def test_interval_validation_rejects_nonfinite(spark):
    import pytest

    from embeddinghub_spark.streaming.windows import _interval_seconds

    assert _interval_seconds("90 seconds") == 90.0
    assert _interval_seconds("1.5 hours") == 5400.0
    for bad in ("nan seconds", "inf minutes", "1e3 seconds", "-5 seconds",
                "5 minuts", "seconds"):
        with pytest.raises(ValueError):
            _interval_seconds(bad)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join (the enrichment mode, no watermark needed —
    the static side is just re-read per micro-batch): streamed events
    enriched against a static dimension equal the batch join."""
    from datetime import datetime

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], ["user_id", "tier"]
    )
    events = [
        (1, datetime(2024, 1, 1, h), float(h)) for h in range(8)
    ] + [(2, datetime(2024, 1, 1, h), float(h * 10)) for h in range(8)] + [
        (3, datetime(2024, 1, 1, 1), 5.0)  # no dim row -> dropped (inner)
    ]
    edf = spark.createDataFrame(events, ["user_id", "ts", "value"])
    in_dir = str(tmp_path / "enrich_in")
    edf.repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(edf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream.join(dim, "user_id")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["user_id"], r["ts"], r["value"], r["tier"])
        for r in spark.table("enrich_test").collect()
    }
    expected = {
        (r["user_id"], r["ts"], r["value"], r["tier"])
        for r in edf.join(dim, "user_id").collect()
    }
    assert got == expected and len(got) == 16


def test_stream_interval_join_same_lineage_key_not_trivial(spark):
    """Both sides derived from the SAME scan (self-attribution over one
    event stream): the explicit side aliases must keep the key equality
    a real join condition — same-lineage attribute resolution could
    otherwise collapse it to trivially-true and cross-key pairs would
    leak in. Pins the exact pair set against a Python replay and that
    the key condition prunes relative to a keyless band join."""
    from datetime import datetime

    from embeddinghub_spark.streaming.windows import stream_interval_join

    base = spark.createDataFrame(
        [(i % 3, datetime(2024, 3, 1, 12, i), i) for i in range(30)],
        ["user_id", "ts", "eid"],
    )
    left = base.select(
        "user_id", F.col("ts").alias("l_ts"), F.col("eid").alias("l_id")
    )
    right = base.select(
        "user_id", F.col("ts").alias("r_ts"), F.col("eid").alias("r_id")
    )
    got = {
        (r["l_id"], r["r_id"])
        for r in stream_interval_join(
            left, right, "user_id", "l_ts", "r_ts", "0 seconds", "5 minutes"
        ).collect()
    }
    keyed = {
        (i, j)
        for i in range(30)
        for j in range(30)
        if i % 3 == j % 3 and 0 <= j - i <= 5
    }
    keyless = {
        (i, j) for i in range(30) for j in range(30) if 0 <= j - i <= 5
    }
    assert got == keyed
    assert len(keyed) < len(keyless), "key condition must prune pairs"


def test_streaming_dedup_ingest_equals_batch_replay(spark, tmp_path):
    """Dedup-on-ingest: accepted set is slicing-invariant under
    id-monotone arrival and equals the batch-replay rule "keep d iff
    no banded-MinHash candidate a exists with a.id < d.id" — run
    once with 1-file micro-batches, once with all files in one
    batch, both compared to the rule computed from full-corpus
    pairs. Also pins that rejection does NOT chain (a rejected doc
    still rejects its own later near-dups: all docs enter the
    index)."""
    import os
    import time as _time

    from embeddinghub_spark.functions.dedup import minhash_duplicate_pairs
    from embeddinghub_spark.streaming.dedup_ingest import (
        streaming_dedup_ingest,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely unrelated text about spark structured streaming",
        "numbers one two three four five six seven eight nine ten",
        "a third distinct document mentioning feature stores and joins",
    ]
    rows = []
    for i in range(24):
        if i % 3 == 0:
            # near-dup family: shared long prefix, tiny suffix change
            rows.append((i, base[0] + f" tail {i % 2}"))
        else:
            rows.append((i, base[i % len(base)] + f" unique {i} marker {i*i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # batch-replay truth: reject iff a smaller-id candidate exists
    pairs = minhash_duplicate_pairs(df, "text", "doc_id")
    rejected_truth = {r["id_b"] for r in pairs.collect()}
    accepted_truth = {i for i, _ in rows} - rejected_truth
    assert rejected_truth, "test corpus must contain near-dups"

    def run(n_files, tag):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        per = len(rows) // n_files
        for f in range(n_files):
            chunk = rows[f * per: (f + 1) * per]
            spark.createDataFrame(chunk, ["doc_id", "text"]).coalesce(
                1
            ).write.parquet(os.path.join(src, f"f{f:02d}"))
            # id-monotone arrival: file mtimes strictly increasing
            t = _time.time() - 1000 + f
            for root, _dirs, files in os.walk(os.path.join(src, f"f{f:02d}")):
                for name in files:
                    os.utime(os.path.join(root, name), (t, t))
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        out = str(tmp_path / f"out_{tag}")
        q = streaming_dedup_ingest(
            stream, str(tmp_path / f"idx_{tag}"), out,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        )
        assert q.awaitTermination(180), "ingest stream did not finish"
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    assert run(8, "sliced") == accepted_truth
    assert run(1, "onebatch") == accepted_truth


def test_streaming_distinct_by_equals_batch_hll(spark, tmp_path):
    """Streaming grouped HLL: after any micro-batch slicing, the
    merged register estimates are BIT-IDENTICAL to the batch
    hll_distinct_by over the whole input (the algebraic max-merge
    law), and re-merging a batch (at-least-once replay) changes
    nothing (idempotence)."""
    import os

    from embeddinghub_spark.functions.profile import hll_distinct_by
    from embeddinghub_spark.streaming.distinct_by import (
        _registers,
        merge_registers_dir,
        read_distinct_estimates,
        streaming_distinct_by,
    )

    rows = [(f"s{i % 4}", i % 500) for i in range(3000)]
    df = spark.createDataFrame(rows, ["source", "uid"])
    src = str(tmp_path / "in")
    df.repartition(6).write.parquet(src)  # 6 files -> 6 micro-batches

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "regs")
    q = streaming_distinct_by(
        stream, state, "source", "uid",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180), "stream did not finish"

    got = {
        r["grp"]: (r["approx_ndv"], r["n_empty_buckets"])
        for r in read_distinct_estimates(spark, state).collect()
    }
    want = {
        r["source"]: (r["approx_ndv"], r["n_empty_buckets"])
        for r in hll_distinct_by(df, ["source"], "uid").collect()
    }
    assert got == want  # bit-identical, not approximately equal

    # idempotence: re-merging an arbitrary batch is a no-op
    merge_registers_dir(
        spark, state, _registers(df.limit(500), "source", "uid", 9)
    )
    again = {
        r["grp"]: (r["approx_ndv"], r["n_empty_buckets"])
        for r in read_distinct_estimates(spark, state).collect()
    }
    assert again == want


def test_streaming_cms_equals_batch_and_skips_replays(spark, tmp_path):
    """Streaming CMS: after any micro-batch slicing the merged
    counters give the same estimates as the batch sketch over the
    whole input, and a replayed batch id is transactionally SKIPPED
    (+-merge is not idempotent, so the commit watermark is what
    restores exactly-once effects)."""
    from embeddinghub_spark.functions.profile import cms_topk
    from embeddinghub_spark.streaming.cms_by import (
        _batch_counters,
        merge_counters_dir,
        read_cms_estimates,
        streaming_cms,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [
        (i, " ".join(words[j % 5] for j in range(i, i + 6)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "in")
    df.repartition(5).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "cms")
    q = streaming_cms(
        stream, state, depth=4, width=64,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180)

    got = {
        r["token"]: r["cms_estimate"]
        for r in read_cms_estimates(spark, state, words, depth=4, width=64).collect()
    }
    want = {
        r["token"]: r["cms_estimate"]
        for r in cms_topk(df, depth=4, width=64, k=5).collect()
    }
    assert got == want

    # replayed batch id (already committed) must be skipped
    applied = merge_counters_dir(
        spark, state, _batch_counters(df, "text", 4, 64), batch_id=0
    )
    assert applied is False
    again = {
        r["token"]: r["cms_estimate"]
        for r in read_cms_estimates(spark, state, words, depth=4, width=64).collect()
    }
    assert again == want


def test_streaming_cdc_apply_equals_batch_and_skips_replays(spark, tmp_path):
    """Streaming CDC ingest: after the stream drains (ordered
    micro-batches), the stored snapshot equals the batch cdc_apply of
    the FULL changelog onto an empty snapshot, deletes included; a
    replayed batch id is transactionally skipped (an out-of-order
    re-application would regress keys)."""
    from embeddinghub_spark.operators.cdc import cdc_apply
    from embeddinghub_spark.streaming.cdc_ingest import (
        apply_changelog_batch,
        streaming_cdc_apply,
    )

    # changelog: key k gets U/D ops with globally monotone seq;
    # _part orders file-per-trigger arrival to match seq order
    rows = []
    seq = 0
    for part in range(5):
        for k in range(20):
            seq += 1
            op = "D" if (k + part) % 7 == 0 else "U"
            rows.append((part, k, seq, op, f"v{part}-{k}", part * 100 + k))
    log = spark.createDataFrame(
        rows, ["_part", "k", "seq", "op", "val", "n"]
    )
    src = str(tmp_path / "cdc_in")
    for part in range(5):  # one file per micro-batch, in seq order
        log.filter(f"_part = {part}").drop("_part").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    schema = log.drop("_part").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    state = str(tmp_path / "cdc_state")
    q = streaming_cdc_apply(
        stream, state, ["k"], checkpoint_dir=str(tmp_path / "cdc_ckpt")
    )
    assert q.awaitTermination(180)

    got = {
        (r.k): (r.val, r.n)
        for r in spark.read.parquet(state).collect()
    }
    full = log.drop("_part")
    empty_snap = full.select("k", "val", "n").filter("1=0")
    want = {
        (r.k): (r.val, r.n)
        for r in cdc_apply(empty_snap, full, ["k"]).collect()
    }
    assert got == want
    assert 0 < len(got) < 20  # deletes pruned some but not all keys

    # replaying an old batch must be a no-op (watermark gate)
    b0 = full.filter("seq <= 20")
    applied = apply_changelog_batch(
        spark, state, b0, batch_id=0, key_cols=["k"],
        snapshot_cols=["k", "val", "n"],
    )
    assert applied is False
    again = {
        (r.k): (r.val, r.n)
        for r in spark.read.parquet(state).collect()
    }
    assert again == want


def test_cdc_apply_batch_migrates_legacy_plain_dir_snapshot(spark, tmp_path):
    """A snapshot seeded as a PLAIN parquet dir (outside the symlink
    protocol — the legacy case tables.py's bucketed merge also
    migrates) must be folded in and replaced by the symlinked version,
    not crash os.replace (ADVICE r5)."""
    import os

    from embeddinghub_spark.streaming.cdc_ingest import (
        apply_changelog_batch,
    )

    state = str(tmp_path / "legacy_state")
    seed = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], ["k", "val", "n"]
    )
    seed.write.parquet(state)  # plain dir, no symlink, no meta
    assert os.path.isdir(state) and not os.path.islink(state)

    batch = spark.createDataFrame(
        [(2, 1, "U", "b2", 21), (3, 2, "U", "c", 30), (1, 3, "D", None, None)],
        ["k", "seq", "op", "val", "n"],
    )
    applied = apply_changelog_batch(
        spark, state, batch, batch_id=0, key_cols=["k"],
        snapshot_cols=["k", "val", "n"],
    )
    assert applied is True
    assert os.path.islink(state), "state_dir not migrated to a symlink"
    got = {r.k: (r.val, r.n) for r in spark.read.parquet(state).collect()}
    # seeded rows folded: k=1 deleted, k=2 updated, k=3 inserted
    assert got == {2: ("b2", 21), 3: ("c", 30)}
    # and the watermark committed: replaying batch 0 is now a no-op
    assert not apply_changelog_batch(
        spark, state, batch, batch_id=0, key_cols=["k"],
        snapshot_cols=["k", "val", "n"],
    )


def test_streaming_psi_equals_batch_and_skips_replays(spark, tmp_path):
    """Streaming PSI: after any micro-batch slicing the index equals
    the batch psi_drift over everything ingested; replayed batch ids
    are skipped (+-merge is not idempotent)."""
    from pyspark.sql import Row

    from embeddinghub_spark.operators.batch import psi_drift
    from embeddinghub_spark.streaming.psi_monitor import (
        freeze_reference,
        merge_batch_bins,
        read_psi,
        streaming_psi,
    )

    ref = spark.createDataFrame([Row(v=float(i % 100)) for i in range(1000)])
    cur_rows = [Row(v=float(i % 100) + 40.0) for i in range(600)]
    cur = spark.createDataFrame(cur_rows)

    state = str(tmp_path / "psi")
    freeze_reference(ref, state, "v", n_bins=10)

    src = str(tmp_path / "psi_in")
    cur.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(cur.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_psi(
        stream, state, "v", n_bins=10,
        checkpoint_dir=str(tmp_path / "psi_ckpt"),
    )
    assert q.awaitTermination(180)

    got = read_psi(spark, state, n_bins=10)
    want = sum(
        r.psi_term for r in psi_drift(ref, cur, "v", n_bins=10).collect()
    )
    # psi_drift rounds each term to 6 decimals; allow n_bins x 5e-7
    assert abs(got - want) < 1e-5
    assert got > 0.25  # the shift is textbook-drifted

    # replayed batch id -> no-op
    assert merge_batch_bins(spark, state, cur, 0, "v", 10) is False
    assert abs(read_psi(spark, state, n_bins=10) - want) < 1e-5


def test_read_quantiles_matches_batch_histogram(spark, tmp_path):
    """Streaming quantiles from the PSI monitor state: after the
    stream drains, read_quantiles equals the batch histogram sketch
    over the ingested rows when the frozen grid covers them (here the
    ingested data IS the reference, so grids coincide exactly)."""
    from pyspark.sql import Row

    from embeddinghub_spark.functions.profile import histogram_quantiles
    from embeddinghub_spark.streaming.psi_monitor import (
        freeze_reference,
        merge_batch_bins,
        read_quantiles,
        streaming_psi,
    )

    ref = spark.createDataFrame([Row(v=float(i % 97)) for i in range(970)])
    state = str(tmp_path / "qm")
    freeze_reference(ref, state, "v", n_bins=32)

    src = str(tmp_path / "qm_in")
    ref.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ref.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_psi(
        stream, state, "v", n_bins=32,
        checkpoint_dir=str(tmp_path / "qm_ckpt"),
    )
    assert q.awaitTermination(180)

    qs = [0.5, 0.9, 0.99]
    got = dict(read_quantiles(spark, state, qs, n_bins=32))
    want = {
        r["quantile"]: r["value"]
        for r in histogram_quantiles(ref, "v", qs, n_bins=32).collect()
    }
    assert got == want
    # a pick landing on a round-6 tie (3.5e-6) rounds HALF_UP like the
    # batch sketch, not half-to-even
    tie = spark.createDataFrame([Row(v=x) for x in [0.0, 1.4e-5, 1.4e-5, 1.4e-5]])
    tie_state = str(tmp_path / "qm_tie")
    freeze_reference(tie, tie_state, "v", n_bins=4)
    merge_batch_bins(spark, tie_state, tie, 0, "v", n_bins=4)
    assert read_quantiles(spark, tie_state, [0.25], n_bins=4) == [
        tuple(r) for r in histogram_quantiles(tie, "v", [0.25], n_bins=4).collect()
    ]
    # nothing-ingested state answers empty, not garbage
    empty_state = str(tmp_path / "qm2")
    freeze_reference(ref, empty_state, "v", n_bins=32)
    assert read_quantiles(spark, empty_state, qs, n_bins=32) == []


def test_streaming_auc_equals_batch_and_skips_replays(spark, tmp_path):
    """Streaming AUC monitor: after any micro-batch slicing the
    merged per-score state gives EXACTLY the batch binary_auc over
    the whole input, and a replayed batch id is transactionally
    SKIPPED (count +-merge is not idempotent)."""
    import random

    from embeddinghub_spark.functions.metrics import binary_auc
    from embeddinghub_spark.streaming.auc_monitor import (
        _batch_score_counts,
        merge_score_counts_dir,
        read_auc,
        streaming_auc,
    )

    rng = random.Random(23)
    rows = [
        (i, round(rng.random(), 3), rng.randint(0, 1)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["id", "score", "label"])
    src = str(tmp_path / "in")
    df.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "auc")
    q = streaming_auc(
        stream, state, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(180)

    got = read_auc(spark, state).collect()[0]
    want = binary_auc(df, "score", "label").collect()[0]
    assert got.auc == want.auc
    assert got.n_pos == want.n_pos and got.n_neg == want.n_neg

    # replayed batch id (already committed) must be skipped
    applied = merge_score_counts_dir(
        spark, state, _batch_score_counts(df, "score", "label", 4),
        batch_id=0,
    )
    assert applied is False
    again = read_auc(spark, state).collect()[0]
    assert again.auc == want.auc and again.n_pos == want.n_pos

    # ADVICE r6 pin: a crash between the version write and the symlink
    # flip leaves an orphan ``.v-*`` dir; the next successful commit
    # must sweep it (otherwise state grows unboundedly across restarts)
    orphan = state + ".v-deadbeef"
    os.makedirs(orphan, exist_ok=True)
    applied = merge_score_counts_dir(
        spark, state, _batch_score_counts(df.limit(10), "score", "label", 4),
        batch_id=99,
    )
    assert applied is True
    assert not os.path.exists(orphan), "orphan state dir not swept"
    live = os.path.realpath(state)
    assert os.path.isdir(live)  # the live version survives the sweep


def test_streaming_enrich_follows_refresh_and_replays_safely(spark, tmp_path):
    """Per-batch version re-resolution: a C18 refresh BETWEEN batches
    changes what later batches join against (the frozen-static-plan
    failure this op exists to avoid); a replayed batch id overwrites
    its own output instead of duplicating; the e2e availableNow run
    enriches every row."""
    from embeddinghub_spark.sources.sinks import atomic_update
    from embeddinghub_spark.streaming.enrich import (
        enrich_batch,
        read_enriched,
        streaming_enrich,
    )

    feats_dir = str(tmp_path / "feats")
    atomic_update(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["entity", "f"]),
        feats_dir,
    )
    out = str(tmp_path / "enriched")

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], ["event_id", "entity"])
    enrich_batch(spark, b0, feats_dir, ["entity"], out, batch_id=0)

    # refresh mid-stream: the NEXT batch must see the new values
    atomic_update(
        spark.createDataFrame([("a", 10.0), ("b", 20.0)], ["entity", "f"]),
        feats_dir,
    )
    b1 = spark.createDataFrame([(3, "a")], ["event_id", "entity"])
    enrich_batch(spark, b1, feats_dir, ["entity"], out, batch_id=1)

    got = {
        r["event_id"]: r["f"] for r in read_enriched(spark, out).collect()
    }
    assert got == {1: 1.0, 2: 2.0, 3: 10.0}

    # replayed batch id: overwrite, not duplicate
    enrich_batch(spark, b1, feats_dir, ["entity"], out, batch_id=1)
    assert read_enriched(spark, out).count() == 3

    # e2e through a real stream
    src = str(tmp_path / "src")
    events = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(10, 16)],
        ["event_id", "entity"],
    )
    events.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out2 = str(tmp_path / "enriched2")
    q = streaming_enrich(
        stream, feats_dir, ["entity"], out2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180)
    rows = read_enriched(spark, out2).collect()
    assert len(rows) == 6
    assert all(r["f"] in (10.0, 20.0) for r in rows)


def test_decayed_trailing_counter_matches_batch(spark, tmp_path):
    """The streaming bucketed-decay state must converge, after
    draining the same events in arbitrary micro-batch order, to
    exactly the batch ``decayed_trailing_features`` value for a label
    at the stream's own reference (bucket of max seen ts, + 1) — the
    backfill-seeds-streaming contract of the decayed_counter family,
    bit-equal under the shared decimal protocol."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.operators.pit import decayed_trailing_features
    from embeddinghub_spark.streaming.windows import decayed_trailing_counter

    g, K, hl = 60, 8, 180.0
    base = datetime(2024, 1, 1)
    rows = [
        (
            f"u{i % 4}",
            base + timedelta(seconds=(i * 137) % 700),
            round(((i * 7) % 50) / 10.0 - 2.5, 3),
        )
        for i in range(120)
    ]
    src = spark.createDataFrame(rows, ["entity", "ts", "value"])
    in_dir = str(tmp_path / "dtc_in")
    src.repartition(4).write.parquet(in_dir)  # arbitrary batch order
    persisted = spark.read.parquet(in_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["entity"]] = (
                r["ref_ts"], r["decay_count"], r["decay_score"], r["decay_sum"],
            )

    q = (
        decayed_trailing_counter(
            stream, bucket_seconds=g, n_buckets=K, half_life_seconds=hl,
            value_col="value",
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dtc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    # batch twin: one label per entity AT the streaming reference ts
    labels = [(e, final[e][0]) for e in final]
    batch = {
        r["entity"]: (r["decay_count"], r["decay_score"], r["decay_sum"])
        for r in decayed_trailing_features(
            spark.createDataFrame(labels, ["entity", "ts"]),
            persisted,
            bucket_seconds=g,
            n_buckets=K,
            half_life_seconds=hl,
            value_col="value",
        ).collect()
    }
    assert set(batch) == set(final)
    for e in batch:
        assert batch[e] == final[e][1:], (e, batch[e], final[e])


def test_real_kafka_load_path(spark):
    """Runs ONLY where the kafka connector JAR is present (the S7
    primary branch, runner offline_store_spark_runner.py:271-416):
    ``kafka_reader(...).load()`` must build the streaming frame with
    Kafka's canonical columns — brokers are contacted at stream START,
    so source construction is verifiable without one. Skipped in
    JAR-less sandboxes; the parse/corrupt-policy plan stays pinned by
    the file-stream stand-in tests above."""
    import pytest

    from embeddinghub_spark.sources.connectors import connector_support
    from embeddinghub_spark.streaming.kafka import kafka_reader

    if not connector_support(spark)["kafka"]:
        pytest.skip("no kafka connector JAR on this classpath")
    df = kafka_reader(spark, "localhost:9092", "eh_probe_topic").load()
    assert df.isStreaming
    cols = set(df.columns)
    assert {"key", "value", "topic", "partition", "offset",
            "timestamp"} <= cols


def test_decayed_trailing_counter_multi_half_life(spark, tmp_path):
    """A half-life LIST in the streaming counter emits per-half-life
    columns that each equal the corresponding single-half-life batch
    value at the stream's reference — fusion changes naming, never
    numbers."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.operators.pit import decayed_trailing_features
    from embeddinghub_spark.streaming.windows import decayed_trailing_counter

    g, K = 60, 6
    base = datetime(2024, 1, 1)
    rows = [
        (f"u{i % 3}", base + timedelta(seconds=(i * 97) % 500))
        for i in range(60)
    ]
    src = spark.createDataFrame(rows, ["entity", "ts"])
    in_dir = str(tmp_path / "dtm_in")
    src.repartition(3).write.parquet(in_dir)
    persisted = spark.read.parquet(in_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["entity"]] = (
                r["ref_ts"], r["decay_count"],
                r["decay90_score"], r["decay300_score"],
            )

    q = (
        decayed_trailing_counter(
            stream, bucket_seconds=g, n_buckets=K,
            half_life_seconds=[90, 300],
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dtm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    labels = [(e, final[e][0]) for e in final]
    ldf = spark.createDataFrame(labels, ["entity", "ts"])
    for hl, idx in ((90.0, 2), (300.0, 3)):
        batch = {
            r["entity"]: (r["decay_count"], r["decay_score"])
            for r in decayed_trailing_features(
                ldf, persisted, bucket_seconds=g, n_buckets=K,
                half_life_seconds=hl,
            ).collect()
        }
        for e in batch:
            assert batch[e] == (final[e][1], final[e][idx]), (hl, e)


def test_decayed_trailing_counter_tolerates_nulls(spark, tmp_path):
    """ADVICE r8 pin: NULL-ts events are excluded (they have no
    bucket, matching the batch twin) and NULL values count toward
    decay_count but add nothing to the value sum (the batch SUM-skips-
    NULL behavior) — neither kills the streaming query."""
    from datetime import datetime

    from embeddinghub_spark.streaming.windows import decayed_trailing_counter

    base = datetime(2024, 1, 1)
    rows = [
        ("a", base, 2.0),
        ("a", base, None),      # NULL value: counted, no sum term
        ("a", None, 5.0),       # NULL ts: excluded entirely
        ("b", None, 1.0),       # entity with ONLY null-ts rows
    ]
    src = spark.createDataFrame(
        rows, "entity STRING, ts TIMESTAMP, value DOUBLE"
    )
    in_dir = str(tmp_path / "nulls_in")
    src.coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["entity"]] = (r["decay_count"], r["decay_sum"])

    q = (
        decayed_trailing_counter(
            stream, bucket_seconds=60, n_buckets=4,
            half_life_seconds=120.0, value_col="value",
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "nulls_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # both non-null-ts events for `a` landed in the reference window
    assert final["a"][0] == 2
    # the value sum reflects only the non-null value (2.0 decayed)
    assert final["a"][1] is not None and 0 < final["a"][1] <= 2.0
    # an entity with only null-ts rows emits nothing and does not crash
    assert "b" not in final


def test_streaming_counter_rejects_duplicate_half_lives(spark):
    """ADVICE r8 pin: the streaming counter fails fast at construction
    on duplicate half-lives like its batch twin, instead of dying on
    an Arrow schema mismatch mid-stream."""
    import pytest

    from embeddinghub_spark.streaming.windows import decayed_trailing_counter

    df = spark.createDataFrame([("a",)], ["entity"]).withColumn(
        "ts", __import__("pyspark").sql.functions.current_timestamp()
    )
    with pytest.raises(ValueError, match="distinct"):
        decayed_trailing_counter(
            df, bucket_seconds=60, n_buckets=4,
            half_life_seconds=[120, 120],
        )


def test_trailing_distinct_counter_matches_batch(spark, tmp_path):
    """The streaming register state must converge, after draining the
    same events in arbitrary micro-batch order, to exactly the batch
    ``trailing_distinct_features`` estimate (round-3 equality — HLL
    union by register MAX is lossless and order-free) for a label at
    the stream's reference; NULL values/timestamps never hash."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.operators.pit import trailing_distinct_features
    from embeddinghub_spark.streaming.windows import trailing_distinct_counter

    g, K = 60, 6
    base = datetime(2024, 1, 1)
    rows = [
        (
            f"u{i % 4}",
            base + timedelta(seconds=(i * 113) % 600),
            f"dev{(i * 7) % 40}",
        )
        for i in range(150)
    ] + [("u0", None, "devX"), ("u1", base, None)]
    src = spark.createDataFrame(
        rows, "entity STRING, ts TIMESTAMP, device STRING"
    )
    in_dir = str(tmp_path / "tdc_in")
    src.repartition(4).write.parquet(in_dir)  # arbitrary batch order
    persisted = spark.read.parquet(in_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["entity"]] = (
                r["ref_ts"], r["approx_distinct"], r["buckets_used"],
            )

    q = (
        trailing_distinct_counter(
            stream, bucket_seconds=g, n_buckets=K, value_col="device",
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tdc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert set(final) == {"u0", "u1", "u2", "u3"}

    labels = [(e, final[e][0]) for e in final]
    batch = {
        r["entity"]: (r["approx_distinct"], r["approx_distinct_buckets_used"])
        for r in trailing_distinct_features(
            spark.createDataFrame(labels, ["entity", "ts"]),
            persisted,
            bucket_seconds=g,
            n_buckets=K,
            value_col="device",
        ).collect()
    }
    for e in batch:
        assert batch[e] == final[e][1:], (e, batch[e], final[e])
        assert final[e][1] > 0


def test_decayed_trailing_counter_null_only_window_sum_is_null(
    spark, tmp_path
):
    """ADVICE r9 (medium) pin: a window whose every event carries a
    NULL value must emit decay_sum = NULL, exactly like the batch
    twin's SUM over all-NULLs — not 0.0 (which would be
    indistinguishable from a window of genuine zeros). decay_count
    and decay_score still reflect the events."""
    from datetime import datetime

    from embeddinghub_spark.operators.pit import decayed_trailing_features
    from embeddinghub_spark.streaming.windows import decayed_trailing_counter

    base = datetime(2024, 1, 1)
    rows = [
        ("a", base, None),          # all-NULL window for entity a
        ("a", base, None),
        ("z", base, 0.0),           # genuine-zero control entity
    ]
    src = spark.createDataFrame(
        rows, "entity STRING, ts TIMESTAMP, value DOUBLE"
    )
    in_dir = str(tmp_path / "nullsum_in")
    src.coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["entity"]] = (
                r["ref_ts"], r["decay_count"], r["decay_score"],
                r["decay_sum"],
            )

    q = (
        decayed_trailing_counter(
            stream, bucket_seconds=60, n_buckets=4,
            half_life_seconds=120.0, value_col="value",
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "nullsum_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert final["a"][1] == 2 and final["a"][2] is not None
    assert final["a"][3] is None, "all-NULL window must give NULL sum"
    assert final["z"][3] == 0.0, "genuine zero must stay 0.0, not NULL"

    # and the batch twin agrees on both entities at the same reference
    batch = {
        r["entity"]: (r["decay_count"], r["decay_sum"])
        for r in decayed_trailing_features(
            spark.createDataFrame(
                [(e, final[e][0]) for e in final], ["entity", "ts"]
            ),
            spark.read.parquet(in_dir),
            bucket_seconds=60, n_buckets=4, half_life_seconds=120.0,
            value_col="value",
        ).collect()
    }
    assert batch["a"] == (2, None)
    assert batch["z"] == (1, 0.0)


def test_trailing_distinct_counter_rejects_fractional_value_col(spark):
    """ADVICE r9 pin: the streaming counter fails fast on a
    float/double/decimal value column like its batch twin — Python's
    str(v) and Spark's CAST(.. AS STRING) render fractionals
    differently (1e20 -> '1e+20' vs '1.0E20'), so hashing them would
    silently diverge instead of erroring."""
    import pytest

    from embeddinghub_spark.streaming.windows import trailing_distinct_counter

    df = spark.createDataFrame(
        [("a", 1.5)], "entity STRING, value DOUBLE"
    ).withColumn(
        "ts", __import__("pyspark").sql.functions.current_timestamp()
    )
    with pytest.raises(ValueError, match="fractional"):
        trailing_distinct_counter(
            df, bucket_seconds=60, n_buckets=4, value_col="value"
        )


def test_trailing_distinct_features_rejects_n_buckets_over_63(spark):
    """ADVICE r9 pin: the buckets_used bitmask is a 64-bit bit_or over
    probe distance; Spark's shiftleft wraps shift amounts mod 64, so
    n_buckets > 63 would silently alias distances — the op must fail
    fast at construction instead."""
    from datetime import datetime

    import pytest

    from embeddinghub_spark.operators.pit import trailing_distinct_features

    labels = spark.createDataFrame(
        [("a", datetime(2024, 1, 1))], ["entity", "ts"]
    )
    events = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 1)], ["entity", "ts", "value"]
    )
    with pytest.raises(ValueError, match="63"):
        trailing_distinct_features(
            labels, events, bucket_seconds=60, n_buckets=64,
            value_col="value",
        )


def test_state_commit_sweeps_stale_link_and_legacy_orphans(tmp_path):
    """ADVICE r9 pin: a crash between temp-symlink creation and
    os.replace leaves a '.link-*' symlink; a crash before rmtree of a
    moved-aside legacy dir leaves a '.legacy-*' dir. Both must be
    swept by the next successful commit — the same unbounded-leak
    class the '.v-*' sweep already covers — while the live version
    and unrelated siblings survive."""
    import os

    from embeddinghub_spark.streaming._state import (
        commit_version_dir,
        new_version_dir,
    )

    state = str(tmp_path / "st")
    # simulate prior crashes: an orphan temp link, an orphan legacy
    # dir, an orphan version dir, and an unrelated sibling
    stale_v = state + ".v-deadbeef"
    os.makedirs(stale_v)
    os.symlink(stale_v, state + ".link-cafe0000")
    os.makedirs(state + ".legacy-0ld")
    os.makedirs(str(tmp_path / "st_other.v-keep"))

    phys = new_version_dir(state)
    os.makedirs(phys)
    commit_version_dir(state, phys, batch_id=0, meta_name="_meta.json")

    assert os.path.islink(state)
    assert os.path.realpath(state) == os.path.realpath(phys)
    names = set(os.listdir(str(tmp_path)))
    assert "st.link-cafe0000" not in names, "stale temp link leaked"
    assert "st.legacy-0ld" not in names, "stale legacy dir leaked"
    assert "st.v-deadbeef" not in names, "orphan version dir leaked"
    assert "st_other.v-keep" in names, "unrelated sibling swept"
    # and a second commit retires the first version cleanly
    phys2 = new_version_dir(state)
    os.makedirs(phys2)
    commit_version_dir(state, phys2, batch_id=1, meta_name="_meta.json")
    assert os.path.realpath(state) == os.path.realpath(phys2)
    assert not os.path.exists(phys)


def test_streaming_embedding_dedup_equals_batch_replay(spark, tmp_path):
    """Embedding dedup-on-ingest (VERDICT r8 #6): the accepted set is
    slicing-invariant under id-monotone arrival and equals the batch
    rule "keep x iff no banded sign-LSH candidate y < x with exact
    cosine >= threshold" — run once with 1-file micro-batches, once
    with everything in one batch, both compared to the rule computed
    from full-corpus ``embedding_near_duplicates`` pairs. Rejection
    must not chain (every vector's bands enter the index)."""
    import math
    import os
    import time as _time

    from embeddinghub_spark.functions.dedup import embedding_near_duplicates
    from embeddinghub_spark.streaming.dedup_ingest import (
        streaming_embedding_dedup_ingest,
    )

    dim, thr = 8, 0.95
    # 3 orthogonal archetypes; every 3rd vector is a near-dup of
    # archetype 0 (tiny rotation), the rest get strong unique noise
    rows = []
    for i in range(24):
        base = [0.0] * dim
        if i % 3 == 0:
            base[0] = 1.0
            base[1] = 0.01 * (i % 5)  # cosine vs family ~0.999
        else:
            base[i % dim] = 1.0
            base[(i + 3) % dim] = 0.8 + 0.01 * i
            base[(i + 5) % dim] = -0.6
        rows.append((i, [round(x, 6) for x in base]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    pairs = embedding_near_duplicates(df, dim, thr)
    rejected_truth = {r["id_b"] for r in pairs.collect()}
    accepted_truth = {i for i, _ in rows} - rejected_truth
    assert rejected_truth, "test corpus must contain near-dups"
    assert math.isfinite(thr)

    def run(n_files, tag):
        src = str(tmp_path / f"esrc_{tag}")
        os.makedirs(src)
        per = len(rows) // n_files
        for f in range(n_files):
            chunk = rows[f * per: (f + 1) * per]
            spark.createDataFrame(
                chunk, "vec_id int, embedding array<double>"
            ).coalesce(1).write.parquet(os.path.join(src, f"f{f:02d}"))
            t = _time.time() - 1000 + f  # id-monotone mtimes
            for root, _dirs, files in os.walk(os.path.join(src, f"f{f:02d}")):
                for name in files:
                    os.utime(os.path.join(root, name), (t, t))
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        out = str(tmp_path / f"eout_{tag}")
        q = streaming_embedding_dedup_ingest(
            stream, str(tmp_path / f"eidx_{tag}"), out, dim, thr,
            checkpoint_dir=str(tmp_path / f"eckpt_{tag}"),
        )
        assert q.awaitTermination(180), "ingest stream did not finish"
        return {r["vec_id"] for r in spark.read.parquet(out).collect()}

    assert run(8, "sliced") == accepted_truth
    assert run(1, "onebatch") == accepted_truth


def test_emb_index_probe_rejects_mismatched_params(spark, tmp_path):
    """The embedding index records its LSH parameters at first append;
    a probe (or append) with different dim/planes/bands/seed raises
    instead of silently returning empty candidates."""
    import pytest

    from embeddinghub_spark.functions.dedup import (
        emb_index_append,
        emb_index_probe,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    idx = str(tmp_path / "eidx")
    emb_index_append(spark, idx, df, dim=2, n_planes=4, bands=2)
    with pytest.raises(ValueError, match="band values would not line up"):
        emb_index_probe(spark, idx, df, dim=2, n_planes=8, bands=2)
    with pytest.raises(ValueError, match="band values would not line up"):
        emb_index_append(spark, idx, df, dim=2, n_planes=4, bands=2, seed=11)


def test_trailing_topk_counter_matches_batch(spark, tmp_path):
    """The streaming per-bucket item-count state must converge, after
    draining the same events in arbitrary micro-batch order, to
    exactly the batch ``trailing_topk_features`` ranking for a label
    at the stream's reference (integer counts — bit-equal, same
    count-DESC-item-ASC order); NULL items/timestamps never count."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.operators.pit import trailing_topk_features
    from embeddinghub_spark.streaming.windows import trailing_topk_counter

    g, K, k = 60, 6, 3
    base = datetime(2024, 1, 1)
    rows = [
        (
            f"u{i % 4}",
            base + timedelta(seconds=(i * 131) % 600),
            ["x", "y", "z", "w", None][i % 5],
        )
        for i in range(160)
    ]
    src = spark.createDataFrame(rows, "entity string, ts timestamp, item string")
    in_dir = str(tmp_path / "ttk_in")
    src.repartition(4).write.parquet(in_dir)  # arbitrary batch order

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final.setdefault(r["entity"], {})[r["rank"]] = (
                r["ref_ts"], r["item"], r["item_count"],
            )
            # later batches fully overwrite an entity's ranking
            ks = [q for q in final[r["entity"]] if
                  final[r["entity"]][q][0] != r["ref_ts"]]
            for q in ks:
                del final[r["entity"]][q]

    q = (
        trailing_topk_counter(
            stream, bucket_seconds=g, n_buckets=K, item_col="item", k=k
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ttk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    labels = [(e, final[e][1][0]) for e in final]
    batch = {}
    for r in trailing_topk_features(
        spark.createDataFrame(labels, ["entity", "ts"]),
        spark.read.parquet(in_dir),
        bucket_seconds=g, n_buckets=K, item_col="item", k=k,
    ).collect():
        batch.setdefault(r["entity"], {})[r["rank"]] = (
            r["item"], r["item_count"],
        )
    assert set(batch) == set(final)
    for e in batch:
        got = {rk: v[1:] for rk, v in final[e].items()}
        assert batch[e] == got, (e, batch[e], got)


def test_dedup_ingest_torn_replay_recomputes_same_accepts(spark, tmp_path):
    """ADVICE r9 (torn-replay guard): re-running a batch whose band
    rows ALREADY landed in the index (crash between index append and
    the commit stamp) must recompute the SAME accepted set — the probe
    excludes candidates whose index_id is in the current batch, so the
    batch cannot self-reject rows the smaller-id rule keeps."""
    from embeddinghub_spark.functions.dedup import minhash_duplicate_pairs
    from embeddinghub_spark.streaming.dedup_ingest import dedup_ingest_batch

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base + " tail zero"),
        (1, "completely unrelated text about spark structured streaming"),
        (2, "numbers one two three four five six seven eight nine ten"),
        (3, base + " tail one"),  # near-dup of 0 -> rejected (0 < 3)
        (4, "a third distinct document mentioning feature stores"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_duplicate_pairs(df, "text", "doc_id")
    rejected = {r["id_b"] for r in pairs.collect()}
    assert rejected, "corpus must contain a near-dup pair"
    accepted_truth = {i for i, _ in rows} - rejected

    idx = str(tmp_path / "idx")
    out1 = str(tmp_path / "out1")
    out2 = str(tmp_path / "out2")
    dedup_ingest_batch(df, idx, out1)
    got1 = {r["doc_id"] for r in spark.read.parquet(out1).collect()}
    assert got1 == accepted_truth
    # torn replay: index already holds this batch's bands
    dedup_ingest_batch(df, idx, out2)
    got2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert got2 == accepted_truth, "replayed batch self-rejected rows"


def test_dedup_ingest_batch_jobs_and_verdicts(spark, tmp_path):
    """Text dedup-on-ingest over two batches (the second probes the
    index the first wrote): the accepted set is the batch-replay rule's
    and each batch fires no more Spark jobs than it did before the band
    frame was shared by probe, pairs and append (8, then 14)."""
    from embeddinghub_spark.functions.dedup import minhash_duplicate_pairs
    from embeddinghub_spark.streaming.dedup_ingest import dedup_ingest_batch

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely unrelated text about spark structured streaming",
        "numbers one two three four five six seven eight nine ten",
        "a third distinct document mentioning feature stores and joins",
    ]
    rows = [
        (i, base[0] + f" tail {i % 2}") if i % 3 == 0
        else (i, base[i % 4] + f" unique {i} marker {i * i}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    rejected = {r["id_b"] for r in minhash_duplicate_pairs(df).collect()}
    assert rejected, "corpus must contain near-dups"

    tracker = spark.sparkContext.statusTracker()

    def last_job():  # the tracker keeps only the newest jobs' ids
        return max(tracker.getJobIdsForGroup(), default=-1)

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    jobs = []
    for lo in (0, 12):
        before = last_job()
        dedup_ingest_batch(df.filter(f"doc_id >= {lo} and doc_id < {lo + 12}"), idx, out)
        jobs.append(last_job() - before)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {i for i, _ in rows} - rejected
    assert jobs[0] <= 8 and jobs[1] <= 14, jobs


def test_dedup_ingest_probes_a_file_uri_index(spark, tmp_path):
    """A ``file://`` index dir is probed like a plain path: a later
    batch's exact duplicate of an ingested document is rejected, not
    accepted against an index the probe failed to see."""
    from embeddinghub_spark.streaming.dedup_ingest import dedup_ingest_batch

    text = "the quick brown fox jumps over the lazy dog again and again"
    idx, out = f"file://{tmp_path / 'idx'}", str(tmp_path / "out")
    for i in (1, 2):
        dedup_ingest_batch(spark.createDataFrame([(i, text)], ["doc_id", "text"]), idx, out)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


def test_emb_dedup_ingest_torn_replay_recomputes_same_accepts(spark, tmp_path):
    """Embedding twin of the torn-replay pin above."""
    from embeddinghub_spark.streaming.dedup_ingest import (
        emb_dedup_ingest_batch,
    )

    dim = 4
    rows = [
        (0, [1.0, 0.1, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.2, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.3]),
        (3, [2.0, 0.2, 0.0, 0.0]),  # colinear with 0 -> rejected (0 < 3)
        (4, [0.4, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    idx = str(tmp_path / "eidx")
    out1 = str(tmp_path / "eout1")
    out2 = str(tmp_path / "eout2")
    emb_dedup_ingest_batch(df, idx, out1, dim=dim, threshold=0.95,
                           n_planes=4, bands=2)
    got1 = {r["vec_id"] for r in spark.read.parquet(out1).collect()}
    assert 3 not in got1 and 0 in got1
    emb_dedup_ingest_batch(df, idx, out2, dim=dim, threshold=0.95,
                           n_planes=4, bands=2)
    got2 = {r["vec_id"] for r in spark.read.parquet(out2).collect()}
    assert got2 == got1, "replayed embedding batch self-rejected rows"


def test_ingest_commit_stamp_is_checkpoint_scoped(tmp_path):
    """ADVICE r9 (replay guard): the committed-batch stamp skips only
    batches of the SAME stream (checkpoint identity) — a fresh
    checkpoint restarts batch numbering at 0 against an existing
    index and must not be suppressed by the previous stream's stamp."""
    from embeddinghub_spark.streaming._state import (
        _last_committed_batch,
        _record_committed_batch,
    )

    idx = str(tmp_path / "idx")
    ck1 = str(tmp_path / "ckpt1")
    ck2 = str(tmp_path / "ckpt2")
    assert _last_committed_batch(idx, ck1) == -1
    _record_committed_batch(idx, 3, ck1)
    assert _last_committed_batch(idx, ck1) == 3
    # a different stream's numbering is independent
    assert _last_committed_batch(idx, ck2) == -1
    _record_committed_batch(idx, 0, ck2)
    assert _last_committed_batch(idx, ck2) == 0
    assert _last_committed_batch(idx, ck1) == -1  # superseded stamp
    # the stamp file must be invisible to parquet directory listing
    import os

    (names,) = [os.listdir(idx)] if os.path.isdir(idx) else [[]]
    assert all(n.startswith(("_", ".")) for n in names)


def test_ingest_commit_stamp_of_a_file_uri_survives_a_cwd_change(
    tmp_path, monkeypatch
):
    """A ``file://`` index dir keeps its committed-batch stamp next to
    the index, so a stream restarted from another working directory
    still skips its applied batches; nothing lands under ``./file:``."""
    import os

    from embeddinghub_spark.streaming._state import (
        _last_committed_batch,
        _record_committed_batch,
    )

    idx = tmp_path / "stampidx"
    ckpt = str(tmp_path / "ckpt")
    first, second = tmp_path / "cwd1", tmp_path / "cwd2"
    first.mkdir()
    second.mkdir()
    monkeypatch.chdir(first)
    _record_committed_batch(idx.as_uri(), 3, ckpt)
    assert os.listdir(first) == []
    assert (idx / "_ingest_commit.json").is_file()
    monkeypatch.chdir(second)
    assert _last_committed_batch(idx.as_uri(), ckpt) == 3
    assert _last_committed_batch(str(idx), ckpt) == 3


def test_streaming_ingest_skips_replayed_batch(spark, tmp_path):
    """End-to-end replay no-op: with the stamp at the stream's last
    batch, re-delivering an already-applied batch through the
    foreachBatch closure appends nothing (out row count unchanged)."""
    import os
    import time as _time

    from embeddinghub_spark.streaming.dedup_ingest import (
        _last_committed_batch,
        streaming_dedup_ingest,
    )

    rows = [(i, f"distinct document number {i} marker {i*i}") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "src")
    os.makedirs(src)
    for f in range(2):
        chunk = rows[f * 4: (f + 1) * 4]
        spark.createDataFrame(chunk, ["doc_id", "text"]).coalesce(1) \
            .write.parquet(os.path.join(src, f"f{f}"))
        t = _time.time() - 100 + f
        for root, _dirs, files in os.walk(os.path.join(src, f"f{f}")):
            for name in files:
                os.utime(os.path.join(root, name), (t, t))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_dedup_ingest(stream, idx, out, checkpoint_dir=ckpt)
    assert q.awaitTermination(180)
    assert _last_committed_batch(idx, ckpt) == 1  # two batches: 0, 1
    n1 = spark.read.parquet(out).count()

    # restart against the SAME checkpoint: Spark replays nothing new,
    # and even a hypothetical re-delivery of batch <= 1 is a no-op —
    # simulate one by invoking the guard path directly
    stream2 = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q2 = streaming_dedup_ingest(stream2, idx, out, checkpoint_dir=ckpt)
    assert q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == n1


def test_unpack_decay_state_legacy_layouts():
    """ADVICE r9: a checkpoint written by the pre-vcnts 3-array state
    schema must resume losslessly when value_col is None (vcnts is
    identically 0 there) and fail with an explicit rebuild message
    when a value column is in play — never a bare unpack ValueError."""
    import pytest

    from embeddinghub_spark.streaming.windows import _unpack_decay_state

    four = ([10, 11], [2, 3], [500, 0], [1, 0])
    assert _unpack_decay_state(four, "v") == {10: [2, 500, 1], 11: [3, 0, 0]}
    three = ([10, 11], [2, 3], [0, 0])
    assert _unpack_decay_state(three, None) == {10: [2, 0, 0], 11: [3, 0, 0]}
    with pytest.raises(ValueError, match="[Rr]ebuild the checkpoint"):
        _unpack_decay_state(three, "v")
    with pytest.raises(ValueError, match="unrecognized state layout"):
        _unpack_decay_state(([1], [1]), None)


def test_trailing_topk_capped_equals_exact_at_ample_capacity(spark, tmp_path):
    """VERDICT r9 #7: with capacity >= the distinct items per bucket,
    SpaceSaving never evicts and the capped counter's final rankings
    are BIT-EQUAL to the exact twin (same slicing), with
    max_overcount identically 0 — the exact-twin-as-oracle pin."""
    from datetime import datetime, timedelta

    from embeddinghub_spark.streaming.windows import (
        trailing_topk_counter,
        trailing_topk_counter_capped,
    )

    g, K, k = 60, 6, 3
    base = datetime(2024, 1, 1)
    rows = [
        (
            f"u{i % 4}",
            base + timedelta(seconds=(i * 131) % 600),
            ["x", "y", "z", "w", None][i % 5],
        )
        for i in range(160)
    ]
    src = spark.createDataFrame(rows, "entity string, ts timestamp, item string")
    in_dir = str(tmp_path / "in")
    src.repartition(4).write.parquet(in_dir)

    def run(counter, tag, **kw):
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        final: dict = {}

        def drain(bdf, _):
            for r in bdf.collect():
                d = r.asDict()
                e = d.pop("entity")
                rk = d.pop("rank")
                final.setdefault(e, {})[rk] = d
                stale = [q for q in final[e]
                         if final[e][q]["ref_ts"] != d["ref_ts"]]
                for q in stale:
                    del final[e][q]

        q = (
            counter(stream, bucket_seconds=g, n_buckets=K,
                    item_col="item", k=k, **kw)
            .writeStream.foreachBatch(drain)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return final

    exact = run(trailing_topk_counter, "exact")
    capped = run(trailing_topk_counter_capped, "capped", capacity=64)
    assert set(exact) == set(capped)
    for e in exact:
        for rk, d in capped[e].items():
            assert d.pop("max_overcount") == 0
            assert exact[e][rk] == d, (e, rk, exact[e][rk], d)


def test_trailing_topk_capped_spacesaving_error_bound(spark, tmp_path):
    """SpaceSaving contract under real eviction: a heavy item with
    true count > floor(N_bucket/capacity) is guaranteed tracked and
    ranked; its estimate obeys true <= est <= true + max_overcount
    with max_overcount <= floor(N_bucket/capacity). capacity < k
    fails fast."""
    from datetime import datetime, timedelta

    import pytest

    from embeddinghub_spark.streaming.windows import (
        trailing_topk_counter_capped,
    )

    g, K, k, m = 60, 6, 1, 8
    base = datetime(2024, 1, 1)
    rows = [("u", base + timedelta(seconds=i % 50), "heavy")
            for i in range(40)]
    rows += [("u", base + timedelta(seconds=(7 * i) % 50), f"tail{i}")
             for i in range(20)]
    n_bucket = len(rows)  # all 60 events land in one bucket
    src = spark.createDataFrame(rows, "entity string, ts timestamp, item string")
    in_dir = str(tmp_path / "in")
    src.coalesce(2).write.parquet(in_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final: dict = {}

    def drain(bdf, _):
        for r in bdf.collect():
            final[r["rank"]] = (r["item"], r["item_count"],
                                r["max_overcount"])

    q = (
        trailing_topk_counter_capped(
            stream, bucket_seconds=g, n_buckets=K, item_col="item",
            k=k, capacity=m,
        )
        .writeStream.foreachBatch(drain)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    slack = n_bucket // m  # = 7 < heavy's true 40: retention guaranteed
    item, est, over = final[1]
    assert item == "heavy"
    assert over <= slack
    assert 40 <= est <= 40 + over

    with pytest.raises(ValueError, match="capacity"):
        trailing_topk_counter_capped(
            src, bucket_seconds=g, n_buckets=K, item_col="item",
            k=5, capacity=4,
        )


def test_streaming_upsert_iceberg_sink(spark, tmp_path):
    """streaming/iceberg_sink.py (r16): keyed micro-batches fold onto
    a native Iceberg table via zero-scan equality-delete upserts —
    final state == last-batch-wins per key; the batch-id watermark
    rides the SAME commit's table properties, so a replayed batch is
    a no-op (exactly-once across recovery); compact_every folds the
    accumulated deletes in-line."""
    import os
    import time as _time

    from embeddinghub_spark.sources.iceberg_meta import (
        iceberg_snapshot,
        read_iceberg,
    )
    from embeddinghub_spark.streaming.iceberg_sink import (
        apply_upsert_batch,
        last_committed_streaming_batch,
        streaming_upsert_iceberg,
    )

    root = str(tmp_path / "sink")
    src = os.path.join(root, "src")
    tbl = os.path.join(root, "tbl")
    batches = [
        [(1, "a0"), (2, "b0"), (3, "c0")],
        [(2, "b1"), (4, "d1")],
        [(1, "a2"), (4, "d2"), (5, "e2")],
    ]
    schema = "id long, v string"
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)
        t = _time.time() - 100 + i
        for r, _d, files in os.walk(p):
            for name in files:
                os.utime(os.path.join(r, name), (t, t))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = streaming_upsert_iceberg(
        stream, tbl, ["id"], os.path.join(root, "ckpt"),
        compact_every=2,
    )
    assert q.awaitTermination(300)
    got = dict((r["id"], r["v"])
               for r in read_iceberg(spark, tbl).collect())
    assert got == {1: "a2", 2: "b1", 3: "c0", 4: "d2", 5: "e2"}
    last = last_committed_streaming_batch(tbl)
    assert last == 2
    snap = iceberg_snapshot(tbl)
    # compact_every=2 folded the deletes at batch 2
    assert not snap["equality_deletes"]

    # REPLAY: re-applying any committed batch id is a no-op
    replay = spark.createDataFrame(batches[2], schema)
    assert apply_upsert_batch(spark, tbl, replay, 2, ["id"]) is None
    assert iceberg_snapshot(tbl)["snapshot_id"] == snap["snapshot_id"]
    # a NEW batch id applies
    nxt = spark.createDataFrame([(6, "f3")], schema)
    assert apply_upsert_batch(spark, tbl, nxt, 3, ["id"]) is not None
    got2 = dict((r["id"], r["v"])
                for r in read_iceberg(spark, tbl).collect())
    assert got2[6] == "f3" and len(got2) == 6
    assert last_committed_streaming_batch(tbl) == 3


def test_streaming_upsert_delta_sink(spark, tmp_path):
    """streaming/delta_sink.py (r16): keyed micro-batches fold onto a
    native Delta table via MoR merges; the SetTransaction watermark
    rides the SAME commit, so a replayed batch is a no-op
    (exactly-once across recovery); final state == last-batch-wins
    per key; compact_every folds the DVs in-line."""
    import os
    import time as _time

    from embeddinghub_spark.sources.delta_log import (
        delta_snapshot,
        read_delta,
    )
    from embeddinghub_spark.streaming.delta_sink import (
        apply_upsert_batch_delta,
        last_committed_txn,
        streaming_upsert_delta,
    )

    root = str(tmp_path / "dsink")
    src = os.path.join(root, "src")
    tbl = os.path.join(root, "tbl")
    batches = [
        [(1, "a0"), (2, "b0"), (3, "c0")],
        [(2, "b1"), (4, "d1")],
        [(1, "a2"), (4, "d2"), (5, "e2")],
    ]
    schema = "id long, v string"
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)
        t = _time.time() - 100 + i
        for r, _d, files in os.walk(p):
            for name in files:
                os.utime(os.path.join(r, name), (t, t))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = streaming_upsert_delta(
        stream, tbl, ["id"], os.path.join(root, "ckpt"),
        compact_every=2,
    )
    assert q.awaitTermination(300)
    got = dict((r["id"], r["v"])
               for r in read_delta(spark, tbl).collect())
    assert got == {1: "a2", 2: "b1", 3: "c0", 4: "d2", 5: "e2"}
    assert last_committed_txn(tbl) == 2
    snap = delta_snapshot(tbl)
    # compact_every=2 folded the DVs at batch 2
    assert not any(f.get("deletionVector") for f in snap["files"])

    # REPLAY: re-applying a committed batch id is a no-op
    replay = spark.createDataFrame(batches[2], schema)
    assert apply_upsert_batch_delta(
        spark, tbl, replay, 2, ["id"]
    ) is None
    assert delta_snapshot(tbl)["version"] == snap["version"]
    # a NEW batch id applies; duplicate keys raise
    nxt = spark.createDataFrame([(6, "f3")], schema)
    assert apply_upsert_batch_delta(
        spark, tbl, nxt, 3, ["id"]
    ) is not None
    assert last_committed_txn(tbl) == 3
    import pytest as _pytest
    dupb = spark.createDataFrame([(7, "x"), (7, "y")], schema)
    with _pytest.raises(ValueError, match="duplicate keys"):
        apply_upsert_batch_delta(spark, tbl, dupb, 4, ["id"])


def _drain(q):
    assert q.awaitTermination(180)
    assert q.exception() is None


def test_second_stream_into_existing_state_applies_its_batches(spark, tmp_path):
    """Batch ids number from 0 per stream, so the committed-batch
    watermark is scoped to the stream that wrote it: a second stream
    into an existing state dir — checkpointless, or on its own fresh
    checkpoint — applies every one of its batches, and the state ends
    equal to the batch answer over the union of both sources. A restart
    on the SAME checkpoint that re-runs an uncommitted batch is still
    skipped."""
    import shutil

    from embeddinghub_spark.functions.profile import cms_topk
    from embeddinghub_spark.operators.cdc import cdc_apply
    from embeddinghub_spark.streaming.cdc_ingest import streaming_cdc_apply
    from embeddinghub_spark.streaming.cms_by import (
        read_cms_estimates,
        streaming_cms,
    )

    words = ["alpha", "beta", "gamma"]
    docs = {
        "a": [(i, "alpha alpha beta") for i in range(4)],
        "b": [(10 + i, "gamma alpha gamma") for i in range(4)],
    }
    # changelog halves with globally increasing seq: b follows a
    changes = {
        "a": [(k, k + 1, "U", f"a{k}") for k in range(6)],
        "b": [(k, 10 + k, "D" if k == 1 else "U", f"b{k}") for k in range(3)],
    }
    for name in "ab":
        for f in range(2):  # two files -> two micro-batches per source
            spark.createDataFrame(
                docs[name][f * 2:(f + 1) * 2], ["doc_id", "text"]
            ).coalesce(1).write.parquet(str(tmp_path / f"docs_{name}" / f"f{f}"))
        spark.createDataFrame(
            changes[name], ["k", "seq", "op", "val"]
        ).coalesce(1).write.parquet(str(tmp_path / f"log_{name}"))
    all_docs = spark.createDataFrame(docs["a"] + docs["b"], ["doc_id", "text"])
    want_cms = {
        r["token"]: r["cms_estimate"]
        for r in cms_topk(all_docs, depth=4, width=64, k=3).collect()
    }
    full = spark.createDataFrame(
        changes["a"] + changes["b"], ["k", "seq", "op", "val"]
    )
    want_cdc = {
        r.k: r.val
        for r in cdc_apply(full.select("k", "val").filter("1=0"), full, ["k"])
        .collect()
    }

    def doc_stream(name):
        return (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / f"docs_{name}"))
        )

    def log_stream(name):
        return spark.readStream.schema(
            "k LONG, seq LONG, op STRING, val STRING"
        ).parquet(str(tmp_path / f"log_{name}"))

    for mode in ("none", "fresh"):
        cms_state = str(tmp_path / f"cms_{mode}")
        cdc_state = str(tmp_path / f"cdc_{mode}")
        for name in "ab":
            ck = str(tmp_path / f"ck_{mode}_{name}") if mode == "fresh" else None
            _drain(streaming_cms(
                doc_stream(name), cms_state, depth=4, width=64,
                checkpoint_dir=ck and ck + "_cms",
            ))
            _drain(streaming_cdc_apply(
                log_stream(name), cdc_state, ["k"],
                checkpoint_dir=ck and ck + "_cdc",
            ))
        got_cms = {
            r["token"]: r["cms_estimate"]
            for r in read_cms_estimates(
                spark, cms_state, words, depth=4, width=64
            ).collect()
        }
        assert got_cms == want_cms, mode
        got_cdc = {r.k: r.val for r in spark.read.parquet(cdc_state).collect()}
        assert got_cdc == want_cdc, mode

    # same checkpoint, batch 1 re-run (its commit marker lost in a
    # crash): the stamp written under this checkpoint makes it a no-op
    ck_b = str(tmp_path / "ck_fresh_b_cms")
    shutil.rmtree(os.path.join(ck_b, "commits"))
    os.makedirs(os.path.join(ck_b, "commits"))
    _drain(streaming_cms(
        doc_stream("b"), str(tmp_path / "cms_fresh"), depth=4, width=64,
        checkpoint_dir=ck_b,
    ))
    again = {
        r["token"]: r["cms_estimate"]
        for r in read_cms_estimates(
            spark, str(tmp_path / "cms_fresh"), words, depth=4, width=64
        ).collect()
    }
    assert again == want_cms


_BAD_WINDOW_ARGS = {
    "distinct_g0": lambda w, st, b: w.trailing_distinct_counter(
        st, bucket_seconds=0, n_buckets=4, value_col="item"
    ),
    "decayed_trailing_g0": lambda w, st, b: w.decayed_trailing_counter(
        st, bucket_seconds=0, n_buckets=4, half_life_seconds=60.0
    ),
    "decayed_trailing_k0": lambda w, st, b: w.decayed_trailing_counter(
        st, bucket_seconds=60, n_buckets=0, half_life_seconds=60.0
    ),
    "decayed_counter_hl0": lambda w, st, b: w.decayed_counter(
        st, half_life_seconds=0.0
    ),
    "decayed_count_batch_hl0": lambda w, st, b: w.decayed_count_batch(
        b, half_life_seconds=0.0
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_WINDOW_ARGS))
def test_counters_reject_bad_window_args_at_construction(spark, tmp_path, case):
    """A zero bucket width, bucket count or half-life is rejected with
    a ValueError when the operator is built — not a ZeroDivisionError
    inside the Python worker mid-stream, nor all-zero counts."""
    from embeddinghub_spark.streaming import windows

    schema = "entity STRING, ts TIMESTAMP, item STRING"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    batch = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="must be > 0"):
        _BAD_WINDOW_ARGS[case](windows, stream, batch)


def _resume_cases():
    """name -> (build(stream), batch twin(labels, events) -> {entity:
    [row tuple, ...]} or None, the output columns compared)."""
    from embeddinghub_spark.operators import pit
    from embeddinghub_spark.streaming import windows as w

    g, K, k = 60, 6, 3

    def ranks(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["entity"], []).append(
                (r["rank"], r["item"], r["item_count"])
            )
        return {e: sorted(v) for e, v in out.items()}

    def topk_batch(labels, ev):
        return ranks(pit.trailing_topk_features(
            labels, ev, bucket_seconds=g, n_buckets=K, item_col="item", k=k
        ))

    return {
        "trailing_distinct_counter": (
            lambda st: w.trailing_distinct_counter(
                st, bucket_seconds=g, n_buckets=K, value_col="item"
            ),
            lambda lab, ev: {
                r["entity"]: [(r["approx_distinct"],
                               r["approx_distinct_buckets_used"])]
                for r in pit.trailing_distinct_features(
                    lab, ev, bucket_seconds=g, n_buckets=K, value_col="item"
                ).collect()
            },
            ("approx_distinct", "buckets_used"),
        ),
        "decayed_trailing_counter": (
            lambda st: w.decayed_trailing_counter(
                st, bucket_seconds=g, n_buckets=K, half_life_seconds=180.0,
                value_col="value",
            ),
            lambda lab, ev: {
                r["entity"]: [(r["decay_count"], r["decay_score"],
                               r["decay_sum"])]
                for r in pit.decayed_trailing_features(
                    lab, ev, bucket_seconds=g, n_buckets=K,
                    half_life_seconds=180.0, value_col="value",
                ).collect()
            },
            ("decay_count", "decay_score", "decay_sum"),
        ),
        "trailing_topk_counter": (
            lambda st: w.trailing_topk_counter(
                st, bucket_seconds=g, n_buckets=K, item_col="item", k=k
            ),
            topk_batch,
            ("rank", "item", "item_count"),
        ),
        "trailing_topk_counter_capped": (
            lambda st: w.trailing_topk_counter_capped(
                st, bucket_seconds=g, n_buckets=K, item_col="item", k=k,
                capacity=64,
            ),
            topk_batch,
            ("rank", "item", "item_count"),
        ),
        "decayed_counter": (
            lambda st: w.decayed_counter(st, half_life_seconds=600.0),
            None,
            ("decayed_count",),
        ),
    }


@pytest.mark.parametrize(
    "name",
    [
        "trailing_distinct_counter",
        "decayed_trailing_counter",
        "trailing_topk_counter",
        "trailing_topk_counter_capped",
        "decayed_counter",
    ],
)
def test_counter_resumes_from_same_checkpoint(spark, tmp_path, name):
    """The state round trip across a query restart: drain half the
    input files, stop, add the rest and restart on the SAME
    checkpointLocation. The last rows emitted per entity equal those
    of one uninterrupted run over all files, and the batch twin's
    answer at the stream's reference time."""
    from datetime import timedelta

    from embeddinghub_spark.streaming.windows import decayed_count_batch

    build, batch_twin, cols = _resume_cases()[name]
    base = datetime(2024, 1, 1)
    rows = [
        (
            f"u{i % 4}",
            base + timedelta(seconds=(i * 131) % 900),
            round(((i * 7) % 50) / 10.0 - 2.5, 3),
            ["x", "y", "z", "w", None][i % 5],
        )
        for i in range(160)
    ]
    schema = "entity STRING, ts TIMESTAMP, value DOUBLE, item STRING"
    in_dir = str(tmp_path / "in")

    def add_files(part):
        spark.createDataFrame(part, schema).repartition(2).write.mode(
            "append"
        ).parquet(in_dir)

    def run(ckpt):
        last: dict = {}

        def drain(bdf, _):
            fresh: dict = {}
            for r in bdf.collect():
                fresh.setdefault(r["entity"], []).append(
                    tuple(r[c] for c in cols) + (r["ref_ts"],)
                )
            last.update({e: sorted(v) for e, v in fresh.items()})

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            build(stream).writeStream.foreachBatch(drain)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        assert q.exception() is None
        return last

    ckpt = str(tmp_path / "ckpt")
    add_files(rows[:80])
    first = run(ckpt)
    assert first
    add_files(rows[80:])
    resumed = {**first, **run(ckpt)}
    once = run(str(tmp_path / "ckpt_once"))
    assert set(resumed) == set(once) == {"u0", "u1", "u2", "u3"}

    events = spark.read.parquet(in_dir)
    if batch_twin is None:  # decayed_counter: a raw double fold
        want = {
            r["entity"]: (r["decayed_count"], r["ref_ts"])
            for r in decayed_count_batch(
                events, half_life_seconds=600.0
            ).collect()
        }
        for e, ((s, ref),) in resumed.items():
            assert s == pytest.approx(once[e][0][0], rel=1e-12), e
            assert ref == once[e][0][1] == want[e][1], e
            assert abs(s - want[e][0]) < 1e-6, (e, s, want[e])
        return
    assert resumed == once
    labels = spark.createDataFrame(
        [(e, v[0][-1]) for e, v in resumed.items()], ["entity", "ts"]
    )
    want = batch_twin(labels, events)
    got = {e: [r[:-1] for r in v] for e, v in resumed.items()}
    assert got == want
