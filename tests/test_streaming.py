"""Structured Streaming front-end: windowed error rates, foreachBatch into
the idempotent sink, and the applyInPandasWithState conversation-progress
operator (state survives across micro-batches; rolling hash audits against
an offline computation)."""

from __future__ import annotations

import os
import tempfile

import pytest

from pdf_parse_new_spark import fixtures
from pdf_parse_new_spark.operators import extract
from pdf_parse_new_spark.streaming import extract as sx
from pdf_parse_new_spark.streaming import stateful


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "src")
    full = fixtures.make_transcripts_df(spark, n_convs=6, median_turns=5)
    # one file per landing so maxFilesPerTrigger=1 means one micro-batch each
    full.filter("conv_id < 'conv-000003'").coalesce(1).write.parquet(src + "/b1")
    stream = spark.readStream.schema(full.schema).parquet(src + "/*")
    return src, full, stream


def test_error_rate_stream(spark, stream_env):
    src, full, stream = stream_env
    q = (
        sx.error_rate_stream(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("errs_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from errs_t").collect()
    assert rows
    assert {r.family for r in rows} <= {"pdfstream", "html", "plain", "corrupt"}


def test_stateful_progress_across_batches(spark, tmp_path):
    # split by TURN so every conversation spans both micro-batches — the
    # second batch must accumulate onto existing state, not reset it
    src = str(tmp_path / "st")
    full = fixtures.make_transcripts_df(spark, n_convs=6, median_turns=5)
    full.filter("turn_idx < 2").coalesce(1).write.parquet(src + "/b1")
    full.filter("turn_idx >= 2").coalesce(1).write.parquet(src + "/b2")
    stream1 = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    extracted = sx.streaming_extract_turns(stream1)
    q = (
        stateful.conversation_progress_stream(extracted)
        .writeStream.format("memory")
        .queryName("prog_t")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    updates = spark.sql("select * from prog_t").collect()
    assert len(updates) > len({r.conv_id for r in updates})  # multi-batch
    latest = {}
    for r in updates:  # keep the most-accumulated update per conversation
        if r.conv_id not in latest or r.n_turns > latest[r.conv_id].n_turns:
            latest[r.conv_id] = r
    want = {
        r.conv_id: r
        for r in stateful.batch_progress(extract.extract_turns(full)).collect()
    }
    assert set(latest) == set(want)
    gold = {
        (r.conv_id, r.turn_idx): r.extracted_text
        for r in extract.extract_turns(full).collect()
    }
    for cid, w in want.items():
        assert latest[cid].n_turns == w.n_turns, cid
        assert latest[cid].n_errors == w.n_errors
        assert latest[cid].max_turn == w.max_turn
        acc = 0
        for (c, t), txt in gold.items():
            if c == cid:
                acc ^= stateful.turn_digest(c, t, txt or "")
        assert latest[cid].content_hash == f"{acc:032x}", cid


def test_stateful_idle_timeout_evicts_state():
    """The timed-out branch must emit one final row, remove the state, and
    NOT re-arm the timer (unit-level: GroupState faked — a real
    ProcessingTimeTimeout stream never settles under processAllAvailable)."""
    import pandas as pd

    class FakeState:
        def __init__(self, tup, timed_out):
            self._tup = tup
            self.hasTimedOut = timed_out
            self.exists = tup is not None
            self.removed = False
            self.updated = None
            self.armed = []

        @property
        def get(self):
            return self._tup

        def remove(self):
            self.removed = True

        def update(self, tup):
            self.updated = tup

        def setTimeoutDuration(self, ms):
            self.armed.append(ms)

    fn = stateful._make_accumulate(idle_timeout_ms=500)

    # normal data batch: updates state and arms the timer
    live = FakeState((1, 0, 0, f"{0:032x}"), timed_out=False)
    pdf = pd.DataFrame(
        {"turn_idx": [1], "extracted_text": ["hi"], "error": [None]}
    )
    rows = list(fn(("c1",), [pdf], live))
    assert live.updated is not None and live.armed == [500]
    assert not live.removed and len(rows) == 1

    # timeout invocation: final row, state removed, timer NOT re-armed
    idle = FakeState((3, 1, 2, f"{42:032x}"), timed_out=True)
    rows = list(fn(("c2",), iter(()), idle))
    assert idle.removed and idle.updated is None and idle.armed == []
    assert len(rows) == 1
    r = rows[0].iloc[0]
    assert (r.conv_id, r.n_turns, r.n_errors, r.max_turn) == ("c2", 3, 1, 2)
    assert r.content_hash == f"{42:032x}"


def test_dedup_stream_drops_rearrivals(spark, tmp_path):
    """Streaming exact-dedup within the watermark: identical document text
    arriving twice (same or later micro-batch) emits once; distinct texts
    all pass. State is bounded by the event-time watermark."""
    import pandas as pd

    src = str(tmp_path / "dsrc")
    rows1 = [
        ("c1", 0, "user", "unique document alpha " * 4, "", "2024-01-01 00:00:00"),
        ("c1", 1, "user", "unique document beta " * 4, "", "2024-01-01 00:01:00"),
        ("c2", 0, "user", "unique document alpha " * 4, "", "2024-01-01 00:02:00"),
    ]
    rows2 = [
        ("c3", 0, "user", "unique document beta " * 4, "", "2024-01-01 00:03:00"),
        ("c3", 1, "user", "unique document gamma " * 4, "", "2024-01-01 00:04:00"),
    ]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def write_batch(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(
            f"{src}/{name}"
        )

    write_batch(rows1, "b1")
    write_batch(rows2, "b2")
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = (
        sx.dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("select conv_id, turn_idx from dedup_t").collect()
    emitted = {(r.conv_id, r.turn_idx) for r in out}
    # alpha appears once (c1#0 or c2#0 — first arrival), beta once, gamma once
    assert len(emitted) == 3
    texts = {r1[3] for r1 in rows1} | {r2[3] for r2 in rows2}
    assert len(texts) == 3  # sanity: exactly 3 distinct documents existed


def _write_rows(spark, rows, path):
    import pandas as pd

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(path)
    return schema


def test_near_dedup_stream_signature_equality(spark, tmp_path):
    """MinHash-signature near-dup suppression in-stream: identical content
    under different conv ids collapses to the first arrival (the key is
    content-derived, not identity-derived); distinct documents all pass.
    Uses dropDuplicatesWithinWatermark so expired signatures leave the
    state store."""
    src = str(tmp_path / "ndsrc")
    doc_a = "alpha content words repeated for shingles " * 3
    doc_b = "totally different beta document text here " * 3
    rows1 = [
        ("c1", 0, "user", doc_a, "", "2024-01-01 00:00:00"),
        ("c2", 0, "user", doc_b, "", "2024-01-01 00:01:00"),
    ]
    rows2 = [
        ("c3", 0, "user", doc_a, "", "2024-01-01 00:02:00"),  # re-arrival
        ("c4", 0, "user", doc_b + " extra", "", "2024-01-01 00:03:00"),
    ]
    schema = _write_rows(spark, rows1, src + "/b1")
    _write_rows(spark, rows2, src + "/b2")
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = (
        sx.near_dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("neardedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("select conv_id from neardedup_t").collect()
    convs = {r.conv_id for r in out}
    # c1/c3 carry byte-identical content: exactly ONE survives (which one
    # is arbitrary when availableNow folds both files into one batch).
    # c4 appends a word (different shingle set -> different signature): kept.
    assert len(convs & {"c1", "c3"}) == 1, convs
    assert {"c2", "c4"} <= convs
    assert len(convs) == 3


def test_band_collision_stream_counts_first_seen_bands(spark, tmp_path):
    """Chained stateful operators (band dedup -> windowed count): three
    docs where two are identical should register 2 * bands first-seen band
    keys, not 3 * bands; the count emits when a later batch advances the
    watermark past the window."""
    src = str(tmp_path / "bcsrc")
    doc_a = "alpha content words repeated for shingles " * 3
    doc_b = "totally different beta document text here " * 3
    rows1 = [
        ("c1", 0, "user", doc_a, "", "2024-01-01 00:00:00"),
        ("c2", 0, "user", doc_b, "", "2024-01-01 00:01:00"),
        ("c3", 0, "user", doc_a, "", "2024-01-01 00:02:00"),
    ]
    # far-future row closes the first window (watermark 10 min << 2 h gap)
    rows2 = [("c9", 0, "user", doc_b, "", "2024-01-01 02:30:00")]
    schema = _write_rows(spark, rows1, src + "/b1")
    _write_rows(spark, rows2, src + "/b2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        sx.band_collision_stream(
            stream, watermark="10 minutes", bands=4, window="5 minutes"
        )
        .writeStream.format("memory")
        .queryName("bands_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql(
        "select window.start as ws, n_first_seen_bands from bands_t "
        "order by ws"
    ).collect()
    counts = {str(r.ws): r.n_first_seen_bands for r in rows}
    total_first_seen = sum(r.n_first_seen_bands for r in rows)
    # 2 distinct docs x 4 bands = 8 first-seen band keys across the early
    # windows (c3's bands all collide with c1's); the far-future row may or
    # may not have flushed its own window yet
    early = sum(v for k, v in counts.items() if k.startswith("2024-01-01 00:"))
    assert early == 8, counts
    assert total_first_seen in (8, 12), counts


def test_windowed_rollup_stream_equals_batch(spark, tmp_path):
    """The q_events_windowed batch claim pinned end-to-end: streaming the
    same events through a windowed aggregation produces EXACTLY the frames
    the batch query computes — epoch-aligned 15-minute tumbling windows,
    same counts and sums. Backfill and live stream are interchangeable."""
    from pyspark.sql import functions as F

    from pdf_parse_new_spark import queries as q

    sf = "/root/testdata/sf0.001"
    batch = {
        tuple(r) for r in q.q_events_windowed(spark, sf).collect()
    }

    # the file-stream source wants a directory of landed files
    import shutil

    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{sf}/events.parquet", src / "events.parquet")
    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.groupBy(
            F.window("ts", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("win_rollup_t")
        .outputMode("complete")
        .start()
    )
    try:
        query.processAllAvailable()
        streamed = {
            tuple(r) for r in spark.sql(
                "select * from win_rollup_t"
            ).collect()
        }
    finally:
        query.stop()
    assert streamed == batch
