"""Streaming ingest + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from riksdagen_sentences_spark.operators import multimodal as MM
from riksdagen_sentences_spark.streaming.incremental import (
    windowed_event_counts,
)


def test_windowed_event_counts_batch_semantics(spark):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:01:00", "click", 1.0),
            (2, "2024-01-01 00:04:00", "click", 2.0),
            (3, "2024-01-01 00:12:00", "click", 3.0),
            (4, "2024-01-01 00:13:00", "error", 4.0),
        ],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {
        (r["window_start"].minute, r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_event_counts(events, "10 minutes", "30 minutes").collect()
    }
    assert rows[(0, "click")] == (2, 3.0)
    assert rows[(10, "click")] == (1, 3.0)
    assert rows[(10, "error")] == (1, 4.0)


def test_multimodal_feature_extraction(spark):
    media = MM.synth_media(spark, n=30)
    feats = MM.extract_features(media, decoder="fake").collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["features"]) == MM.FEATURE_DIM
        assert all(0.0 <= x < 1.0 for x in r["features"])
        assert r["n_bytes"] > 0
    # deterministic across runs
    again = MM.extract_features(MM.synth_media(spark, n=30), "fake").collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_parse_image_dims_edge_cases():
    """Pure-Python header parser: PNG IHDR, JPEG SOF0/SOF2 behind an
    APP0 walk, and graceful 'unknown'/NULL on garbage - a malformed
    payload must never raise (it would kill a whole task at scale)."""
    body = b"\xaa" * 32
    assert MM.parse_image_dims(MM._png_bytes(640, 480, body)) == (
        "png", 640, 480,
    )
    assert MM.parse_image_dims(
        MM._jpeg_bytes(1920, 1080, body, 0xC0)
    ) == ("jpeg", 1920, 1080)
    assert MM.parse_image_dims(
        MM._jpeg_bytes(300, 200, body, 0xC2)  # progressive SOF2
    ) == ("jpeg", 300, 200)
    # JPEG with no SOF before EOI -> dims unknown, format still jpeg
    assert MM.parse_image_dims(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)
    # truncated PNG magic / arbitrary bytes / empty
    assert MM.parse_image_dims(b"\x89PNG")[0] == "unknown"
    assert MM.parse_image_dims(b"not an image at all") == (
        "unknown", None, None,
    )
    assert MM.parse_image_dims(b"") == ("unknown", None, None)


def test_multimodal_real_decoder_roundtrips_planted_dims(spark):
    media = MM.synth_media_real(spark, n=40, seed=7)
    feats = MM.extract_features(media, decoder="real")
    rows = {r["media_id"]: r for r in feats.collect()}
    src = {r["media_id"]: r for r in media.collect()}
    assert len(rows) == 40
    for mid, r in rows.items():
        assert r["decoded_width"] == src[mid]["width"]
        assert r["decoded_height"] == src[mid]["height"]
        assert r["format"] in ("png", "jpeg")
        assert len(r["features"]) == MM.FEATURE_DIM
    # non-image payloads (the fake media table) degrade to unknown/NULL
    degraded = MM.extract_features(
        MM.synth_media(spark, n=6), decoder="real"
    ).collect()
    assert all(
        r["format"] == "unknown" and r["decoded_width"] is None
        for r in degraded
    )
    with pytest.raises(ValueError, match="unknown decoder"):
        MM.extract_features(media, decoder="pil")


def test_frame_sample_plan(spark):
    media = MM.synth_media(spark, n=12)
    frames = MM.frame_sample_plan(media, every_ms=1000)
    rows = frames.groupBy("media_id").count().collect()
    vids = media.filter(F.col("kind") == "video").count()
    assert len(rows) == vids


def test_streaming_first_seen_dedups_across_batches(spark, tmp_path):
    """Keyed state survives across micro-batches AND across query
    restarts (state store in the checkpoint): a sentence id delivered
    again in a later batch is not re-emitted."""
    from riksdagen_sentences_spark.streaming.incremental import (
        streaming_first_seen,
    )

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(indir)

    rows1 = [("a", 1), ("b", 2), ("a", 3)]
    rows2 = [("a", 4), ("c", 5), ("b", 6)]  # a, b are replays
    spark.createDataFrame(rows1, "k string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(indir)

    def run_once():
        stream = spark.readStream.schema("k string, v long").parquet(indir)
        q = (
            streaming_first_seen(stream, "k")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run_once()
    got1 = {r["k"] for r in spark.read.parquet(outdir).collect()}
    assert got1 == {"a", "b"}

    spark.createDataFrame(rows2, "k string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(indir)
    run_once()
    rows = spark.read.parquet(outdir).collect()
    assert {r["k"] for r in rows} == {"a", "b", "c"}
    # each key exactly once despite replays
    assert len(rows) == 3


def test_watermark_drops_late_rows_in_real_stream(spark):
    """replay_windowed_counts must (a) equal the batch aggregation over
    the on-time rows and (b) PROVE drops happened: the full-batch
    aggregation (late rows included) differs - so the equality in (a)
    cannot be satisfied by a watermark that silently no-ops."""
    import datetime

    from pyspark.sql.window import Window as W

    from riksdagen_sentences_spark.streaming.incremental import (
        replay_windowed_counts,
        windowed_event_counts,
    )

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=float(m)), i % 7,
         ["view", "purchase"][i % 2], float(i), "{}")
        for i, m in enumerate(x * 2.5 for x in range(400))
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    streamed = replay_windowed_counts(
        spark, events, "10 minutes", "30 minutes", n_slices=3, n_late=40
    )
    keep = ["window_start", "window_end", "event_type", "n", "total_value"]
    got = sorted(map(tuple, streamed.select(*keep).collect()))
    on_time = (
        events.withColumn(
            "rn", F.row_number().over(W.orderBy("ts", "event_id"))
        )
        .filter(F.col("rn") > 40)
        .drop("rn")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    exp = sorted(
        map(tuple, windowed_event_counts(on_time).select(*keep).collect())
    )
    assert got == exp
    full = sorted(
        map(
            tuple,
            windowed_event_counts(
                events.withColumn("ts", F.col("ts").cast("timestamp"))
            ).select(*keep).collect(),
        )
    )
    assert got != full  # the late rows really were discarded


def test_dedup_within_watermark_suppresses_and_evicts(spark):
    """replay_dedup_events must show BOTH halves of the state contract:
    planted shifted-ts duplicates vanish (all-column dropDuplicates
    would keep them) and the earliest key's post-eviction re-arrival is
    emitted twice (key-only dropDuplicates would never show that), so
    neither naive batch twin can reproduce the output."""
    import datetime

    from riksdagen_sentences_spark.streaming.incremental import (
        replay_dedup_events,
    )

    base = datetime.datetime(2024, 3, 1)
    # 300 events spaced 1 h apart -> span 300 h >> 2 x delay (2 days)
    rows = [
        (i, base + datetime.timedelta(hours=i), i % 7,
         ["view", "purchase"][i % 2], float(i), "{}")
        for i in range(300)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    out = replay_dedup_events(
        spark, events, delay="2 days", n_slices=3, dup_mod=37
    ).collect()
    ids = [r["event_id"] for r in out]
    # every original id exactly once, EXCEPT id 0 (the earliest event)
    # which the post-eviction re-arrival emits a second time
    assert sorted(ids) == [0] + sorted(range(300))
    # the re-arrival carries the fresh timestamp, not the original
    ts0 = sorted(r["ts"] for r in out if r["event_id"] == 0)
    assert ts0[0] == base
    assert ts0[1] == base + datetime.timedelta(hours=299 + 1)
    # shifted-ts duplicates were suppressed: no row carries a +1 minute
    # timestamp (rows are on exact hours; dupes were planted at +1 min)
    assert all(r["ts"].minute == 0 for r in out if r["event_id"] != 0)


def test_session_window_merges_at_exact_gap(spark):
    import datetime

    from riksdagen_sentences_spark.streaming.incremental import (
        streaming_session_counts,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1.0),
        (1, t0 + datetime.timedelta(seconds=100), 2.0),
        # EXACTLY gap after the previous event: Spark session_window
        # still merges (inclusive bound) - the oracle's `diff > gap`
        # break rule encodes this; `>=` would silently split here
        (1, t0 + datetime.timedelta(seconds=100 + 1800), 4.0),
        # gap + 1s: genuinely a new session
        (1, t0 + datetime.timedelta(seconds=100 + 1800 + 1801), 16.0),
        (2, t0, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = sorted(
        (r.user_id, r.n, r.total_value)
        for r in streaming_session_counts(df, "30 minutes").collect()
    )
    assert got == [(1, 1, 16.0), (1, 3, 7.0), (2, 1, 8.0)]


def test_session_replay_merges_across_slices(spark):
    import datetime

    from riksdagen_sentences_spark.streaming.incremental import (
        replay_session_counts,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    # one user, 8 events 10 min apart: ONE session, but sliced into 4
    # micro-batches - the state store must merge partial sessions
    # across batches
    rows = [
        (i, t0 + datetime.timedelta(minutes=10 * i), 7, "view", 1.0, "{}")
        for i in range(8)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, payload string",
    )
    out = replay_session_counts(spark, events, gap="30 minutes",
                                n_slices=4).collect()
    assert len(out) == 1
    assert out[0].n == 8 and out[0].total_value == 8.0


def test_stream_stream_join_matches_across_batches(spark):
    import datetime

    from riksdagen_sentences_spark.streaming.incremental import (
        replay_view_purchase_pairs,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, user, etype):
        return (eid, t0 + datetime.timedelta(minutes=mins), user, etype,
                1.0, "{}")

    rows = [
        ev(1, 0, 7, "view"),        # earliest -> lands in slice 1
        ev(2, 5, 8, "view"),
        ev(3, 10, 9, "click"),      # filler so slices separate
        ev(4, 15, 9, "click"),
        ev(5, 20, 9, "click"),
        ev(6, 25, 7, "purchase"),   # 25 min after view 1: in window,
                                    # arrives 3 batches later
        ev(7, 50, 8, "purchase"),   # 45 min after view 2: OUT of window
        ev(8, 55, 9, "click"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, payload string",
    )
    got = {
        (r.user_id, r.view_event, r.purchase_event)
        for r in replay_view_purchase_pairs(
            spark, events, within="30 minutes", n_slices=4
        ).collect()
    }
    assert got == {(7, 1, 6)}
