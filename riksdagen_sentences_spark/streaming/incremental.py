"""Structured Streaming front-end for the same batch pipeline.

The reference is a resumable batch pipeline with no streaming (SURVEY
§2.7); this is the Spark-native extension: new document files landing in
a directory are picked up by a file-source stream and applied to the
content-addressed delta store (plans/delta.py) via foreachBatch - the
same ``update_graph`` a batch caller runs, so batch and streaming share
one code path (the deterministic batch ids make a replayed micro-batch
a no-op: re-delivered files produce no new rows).

Also provides the canonical event-time windowed aggregation with
watermarking over the ``events`` table shape, demonstrating late-data
handling for stream analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synth import FILES_SCHEMA


def stream_files_to_delta_store(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    gazetteer: DataFrame | None = None,
):
    """File-arrival stream -> incremental delta store (plans/delta.py):
    each micro-batch runs the kernel chain only for content sha256s the
    store has never seen, so a stream dominated by cross-commit content
    reuse (the production code-repo regime) does ledger bookkeeping
    per trigger, not kernels.  Query the live graph any time with
    ``delta.assemble_graph(spark, store_dir)``.

    Exactly-once for real: ``foreachBatch`` is only at-least-once - on
    recovery Spark can re-invoke the function for a batch whose sink
    work partially completed, which would duplicate rows under a plain
    append sink.  Here the replayed micro-batch hashes to the same
    deterministic delta batch id, so it either short-circuits on the
    commit marker or overwrites exactly its own partial directories -
    the store never double-counts.
    Returns the StreamingQuery."""
    from ..plans import delta as DL

    stream = (
        spark.readStream.schema(FILES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        DL.update_graph(
            batch_df.sparkSession, store_dir, batch_df, gazetteer=gazetteer
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_first_seen(
    stream_df: DataFrame,
    key_col: str,
    order_cols: list[str] | None = None,
):
    """Custom stateful operator: emit each key's row only the FIRST time
    it is ever seen across ALL micro-batches (keyed state via
    applyInPandasWithState) - the streaming equivalent of the
    reference's get-or-insert uniqueness probes
    (/root/reference/models/crud/read.py:233-318).

    The deterministic content-hash ids make this exactly the semantics
    of the batch dedup: re-delivered or duplicated documents yield
    id-identical rows, and the state (one boolean per key) suppresses
    them forever after.  State size = one entry per distinct key -
    partitioned by key across executors, the same scale shape as the
    batch groupBy.

    ``order_cols``: when given, the emitted row is the MINIMUM over
    those columns WITHIN the key's first micro-batch (instead of
    arrival order, which is partition-nondeterministic inside a batch).
    With time-monotone micro-batches this makes the whole stream's
    output deterministic: first batch containing the key x
    deterministic pick inside it = the key's global minimum row.
    """
    import pandas as pd  # noqa: F811
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    schema = stream_df.schema

    def first_seen(key, pdfs, state: GroupState):
        if state.exists:
            # key already emitted in an earlier batch - consume and drop
            for _ in pdfs:
                pass
            return
        first_row = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = (
                pdf.sort_values(order_cols).iloc[[0]]
                if order_cols
                else pdf.iloc[[0]]
            )
            if first_row is None:
                first_row = cand
            elif order_cols:
                first_row = (
                    pd.concat([first_row, cand])
                    .sort_values(order_cols)
                    .iloc[[0]]
                )
        state.update((True,))
        if first_row is not None:
            yield first_row

    return stream_df.groupBy(key_col).applyInPandasWithState(
        first_seen,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def replay_first_seen(
    spark: SparkSession,
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    n_slices: int = 4,
) -> DataFrame:
    """Deterministic micro-batch replay of :func:`streaming_first_seen`
    over a BATCH events table - the driver-checkable twin of the
    stateful streaming dedup.

    The table is split into ``n_slices`` time-ordered slices (ntile
    over ``order_cols`` - a fixture-sized replay harness, not a scale
    path), written as one file per slice with monotone mtimes so the
    file stream source delivers one slice per micro-batch in time
    order.  Keys recurring across slices exercise the cross-batch state
    suppression; ``order_cols`` pins the within-batch pick.  The result
    therefore MUST equal the batch argmin-per-key (the
    ``first_event_per_user`` oracle): any state loss, re-emission, or
    nondeterministic pick breaks the equality.
    """
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sgraft_replay_")
    try:
        return _replay_first_seen(
            spark, events, key_col, order_cols, n_slices, work
        )
    finally:
        # the returned frame was localCheckpoint'ed (blocks, not files),
        # so the whole working dir - input slices, streaming checkpoint,
        # parquet output - can be removed before returning
        shutil.rmtree(work, ignore_errors=True)


def _replay_first_seen(
    spark: SparkSession,
    events: DataFrame,
    key_col: str,
    order_cols: tuple[str, ...],
    n_slices: int,
    work: str,
) -> DataFrame:
    import os

    from pyspark.sql.window import Window

    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    sliced = events.withColumn(
        "__slice",
        F.ntile(n_slices).over(
            Window.orderBy(*[F.col(c).asc() for c in order_cols])
        ),
    )
    for k in range(1, n_slices + 1):
        _stage_slice(
            sliced.filter(F.col("__slice") == k).drop("__slice"), work, k
        )
    return _drain_append_stream(
        spark,
        work,
        events.schema,
        lambda stream: streaming_first_seen(
            stream, key_col, order_cols=list(order_cols)
        ),
    )


def _stage_slice(frame: DataFrame, work: str, k: int) -> None:
    """Write ``frame`` as micro-batch file #k of the replay input dir:
    one parquet file, mtime forced monotone in k (FileStreamSource
    delivers files in mtime order)."""
    import glob
    import os
    import shutil

    stage = os.path.join(work, f"stage{k}")
    frame.coalesce(1).write.parquet(stage)
    src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dst = os.path.join(work, "in", f"{k:03d}.parquet")
    shutil.move(src, dst)
    t0 = 1_000_000_000  # any fixed epoch; only the ORDER matters
    os.utime(dst, (t0 + k, t0 + k))


def _drain_append_stream(spark, work, schema, build) -> DataFrame:
    """Run ``build(file_stream)`` to completion (availableNow) in append
    mode and return the output detached from disk: eager localCheckpoint
    copies the (fixture-scale) rows into block storage and truncates the
    file-scan lineage, so the caller can rmtree ``work`` immediately."""
    import os

    in_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        build(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).localCheckpoint(eager=True)


def replay_windowed_counts(
    spark: SparkSession,
    events: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
    n_slices: int = 3,
    n_late: int = 50,
) -> DataFrame:
    """Drive :func:`windowed_event_counts` through a REAL micro-batch
    stream with planted late data, proving the watermark actually
    discards it (the batch-frame twin can never show that - there the
    watermark is a no-op).

    Layout: the ``n_late`` globally EARLIEST rows (by ts, event_id) are
    withheld; the rest arrive in ``n_slices`` time-ordered micro-batches
    (so the watermark ratchets forward and nothing on-time is ever
    late); then the withheld rows arrive - by now the watermark sits at
    ~(global max ts - watermark), days past their window ends, so the
    stateful aggregation MUST drop all of them; finally a far-future
    sentinel row advances the watermark past every real window end so
    append mode flushes all surviving windows.  The sentinel's own
    window never closes and is additionally filtered by event_type.

    Result therefore MUST equal the batch windowed aggregation over
    events EXCLUDING the ``n_late`` earliest rows - the oracle for
    ``windowed_event_counts_late_dropped``.  Fixture-scale harness by
    design (coalesce(1) per slice); the production path is the
    streaming query itself.
    """
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sgraft_wmreplay_")
    try:
        return _replay_windowed_counts(
            spark, events, window_duration, watermark, n_slices, n_late,
            work,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _replay_windowed_counts(
    spark, events, window_duration, watermark, n_slices, n_late, work
) -> DataFrame:
    import datetime
    import os

    from pyspark.sql.window import Window

    os.makedirs(os.path.join(work, "in"))
    # EventTimeWatermark requires an instant TIMESTAMP, but the session
    # reads parquet as TIMESTAMP_NTZ (DST-proof batch arithmetic).  The
    # session timezone is pinned UTC, so the cast preserves wall-clock
    # values and the emitted window bounds exactly.
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    order = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ranked = events.withColumn("__rn", F.row_number().over(order))
    on_time = (
        ranked.filter(F.col("__rn") > n_late)
        .withColumn("__slice", F.ntile(n_slices).over(order))
        .drop("__rn")
    )
    for k in range(1, n_slices + 1):
        _stage_slice(
            on_time.filter(F.col("__slice") == k).drop("__slice"), work, k
        )
    late = ranked.filter(F.col("__rn") <= n_late).drop("__rn")
    _stage_slice(late, work, n_slices + 1)
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts + datetime.timedelta(days=1), -1, "__sentinel__",
          0.0, "{}")],
        schema=events.schema,
    )
    _stage_slice(sentinel, work, n_slices + 2)
    out = _drain_append_stream(
        spark,
        work,
        events.schema,
        lambda stream: windowed_event_counts(
            stream, window_duration, watermark
        ),
    )
    return out.filter(F.col("event_type") != "__sentinel__")


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark -
    the standard streaming aggregation shape (works identically on a
    batch DataFrame, where the watermark is a no-op)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def replay_dedup_events(
    spark: SparkSession,
    events: DataFrame,
    delay: str = "2 days",
    n_slices: int = 3,
    dup_mod: int = 37,
) -> DataFrame:
    """Drive ``dropDuplicatesWithinWatermark`` through a REAL
    micro-batch stream and return the emitted rows - proving BOTH sides
    of the state contract no batch twin can show:

    - suppression: every slice re-delivers its ``event_id % dup_mod``
      rows a minute later (same id, SHIFTED ts - a naive all-column
      dropDuplicates would keep them); the state store must swallow
      each one, so they appear zero times in the output;
    - eviction: the globally earliest event re-arrives LAST with a
      fresh timestamp (max ts + 1 h).  By then the watermark sits at
      ~(max ts - delay), far past the first arrival's ts + delay, so
      its state entry MUST have been evicted and the re-arrival is
      emitted AGAIN - the output carries that event_id twice, which
      ``dropDuplicates([key])`` could never produce.

    Output = every original event row + the one re-arrival row, which
    is exactly the SQL oracle of ``streaming_dedup_within_watermark``.
    Requires an input whose event time span exceeds 2x ``delay`` and
    unique ``event_id`` (the driver events table satisfies both).
    Fixture-scale harness by design (coalesce(1) slices); production
    runs the same two operators on a live source.
    """
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sgraft_dedupreplay_")
    try:
        return _replay_dedup_events(
            spark, events, delay, n_slices, dup_mod, work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _replay_dedup_events(
    spark, events, delay, n_slices, dup_mod, work
) -> DataFrame:
    import datetime
    import os

    from pyspark.sql.window import Window

    os.makedirs(os.path.join(work, "in"))
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    order = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ranked = events.withColumn("__rn", F.row_number().over(order))
    sliced = ranked.withColumn("__slice", F.ntile(n_slices).over(order))
    for k in range(1, n_slices + 1):
        body = sliced.filter(F.col("__slice") == k).drop(
            "__rn", "__slice"
        )
        dupes = body.filter(F.col("event_id") % dup_mod == 0).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")
        )
        _stage_slice(body.unionByName(dupes), work, k)
    max_ts = events.agg(F.max("ts")).first()[0]
    revisit = (
        ranked.filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn(
            "ts", F.lit(max_ts + datetime.timedelta(hours=1))
        )
    )
    _stage_slice(revisit, work, n_slices + 1)
    return _drain_append_stream(
        spark,
        work,
        events.schema,
        lambda stream: stream.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"]),
    )


def streaming_session_counts(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked SESSION-window aggregation (F.session_window): state
    merges adjacent windows as events arrive and a session closes when
    event time advances ``gap`` past its last event - Spark's native
    stateful sessionization, the streaming twin of the batch
    ``temporal.sessionize`` gap rule.  Merge bound is INCLUSIVE: an
    event at exactly last + gap still merges (pinned by
    test_session_window_merges_at_exact_gap; the SQL oracle breaks on
    diff > gap accordingly)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n",
            "total_value",
        )
    )


def replay_session_counts(
    spark: SparkSession,
    events: DataFrame,
    gap: str = "30 minutes",
    n_slices: int = 4,
) -> DataFrame:
    """Drive :func:`streaming_session_counts` through a REAL
    micro-batch stream: all events arrive on time across ``n_slices``
    time-ordered slices (so sessions spanning slice boundaries MUST be
    merged by the state store, not within one batch), then a far-future
    sentinel advances the watermark past every session end so append
    mode flushes everything.  The result must equal the batch gap
    sessionization over ALL events - the exact-SQL oracle for
    ``streaming_session_counts_replay``."""
    import datetime
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    work = tempfile.mkdtemp(prefix="sgraft_sessreplay_")
    try:
        os.makedirs(os.path.join(work, "in"))
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        order = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        sliced = events.withColumn("__slice", F.ntile(n_slices).over(order))
        for k in range(1, n_slices + 1):
            _stage_slice(
                sliced.filter(F.col("__slice") == k).drop("__slice"),
                work, k,
            )
        max_ts = events.agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [(-1, max_ts + datetime.timedelta(days=1), -1,
              "__sentinel__", 0.0, "{}")],
            schema=events.schema,
        )
        _stage_slice(sentinel, work, n_slices + 1)
        out = _drain_append_stream(
            spark,
            work,
            events.schema,
            lambda stream: streaming_session_counts(stream, gap, gap),
        )
        return out.filter(F.col("user_id") != -1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_view_purchase_pairs(
    views_stream: DataFrame,
    purchases_stream: DataFrame,
    within: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-STREAM interval join: every (view, purchase) pair of the
    same user with the purchase inside ``[view.ts, view.ts + within]``.
    Both sides are watermarked and the join carries the event-time
    range constraint, so Spark can bound and evict join state - the
    attribution-join shape (ad view -> conversion) that at 100 TB/day
    only works BECAUSE state is time-bounded."""
    v = views_stream.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_event"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases_stream.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("p_ts"),
    )
    return v.join(
        p,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            f"AND p_ts <= v_ts + interval {within}"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event",
        "purchase_event",
    )


def replay_view_purchase_pairs(
    spark: SparkSession,
    events: DataFrame,
    within: str = "30 minutes",
    n_slices: int = 4,
) -> DataFrame:
    """Drive the interval join through a REAL micro-batch stream: two
    independent file sources over the same time-ordered slices (views
    and purchases step through batches together), so cross-batch
    matches MUST come out of the join state store.  Inner interval
    joins emit on match - no sentinel flush needed; time-ordered
    arrival + watermark == join horizon means state eviction can never
    kill a future match (an evicted view's window is already out of
    range for every later purchase).  Result must equal the batch
    interval join - the oracle."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    work = tempfile.mkdtemp(prefix="sgraft_ssjoin_")
    try:
        os.makedirs(os.path.join(work, "in"))
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        order = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        sliced = events.withColumn(
            "__slice", F.ntile(n_slices).over(order)
        )
        for k in range(1, n_slices + 1):
            _stage_slice(
                sliced.filter(F.col("__slice") == k).drop("__slice"),
                work, k,
            )
        in_dir = os.path.join(work, "in")
        out_dir = os.path.join(work, "out")

        def src():
            return (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )

        joined = streaming_view_purchase_pairs(
            src().filter(F.col("event_type") == "view"),
            src().filter(F.col("event_type") == "purchase"),
            within=within,
            watermark=within,
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def replay_hll_token_cardinality(
    spark: SparkSession, docs: DataFrame, n_slices: int = 4
) -> DataFrame:
    """1-row (estimate, registers_used, exact_distinct): the
    deterministic HLL token cardinality computed THROUGH a real
    micro-batch stream - the mergeability story under the contract that
    actually exercises it.

    Each micro-batch (``maxFilesPerTrigger=1`` over ``n_slices`` staged
    files) folds its own tokens into a 256-row partial register-maxima
    sketch and APPENDS it to the sketch store inside ``foreachBatch`` -
    no read-modify-write, the same append-only discipline as the delta
    store.  The final estimate merges all partials with one
    ``groupBy(register).max`` - register max is associative,
    commutative, and duplicate-insensitive, so the result is
    bit-identical to the one-shot batch sketch no matter how the stream
    was sliced (the exact-SQL oracle of ``hll_token_cardinality``
    applies verbatim).  At 100 TB/day this is the shape streaming
    cardinality runs as: constant-size per-batch state, merge at read.
    ``exact_distinct`` is recomputed batch-side for the side-by-side
    comparison, exactly as in the batch query."""
    import os
    import shutil
    import tempfile

    from ..operators import sketch as SK

    work = tempfile.mkdtemp(prefix="sgraft_hllreplay_")
    try:
        os.makedirs(os.path.join(work, "in"))
        from pyspark.sql.window import Window

        order = Window.orderBy(F.col("doc_id").asc())
        sliced = docs.withColumn("__slice", F.ntile(n_slices).over(order))
        for k in range(1, n_slices + 1):
            _stage_slice(
                sliced.filter(F.col("__slice") == k).drop("__slice"),
                work, k,
            )
        parts_dir = os.path.join(work, "sketch")

        def _fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
            toks = (
                batch_df.select(
                    F.explode(
                        F.split(F.lower(F.col("text")), r"\s+")
                    ).alias("key")
                )
                .filter(F.col("key") != "")
            )
            SK.hll_register_maxima(toks).write.mode("append").parquet(
                parts_dir
            )

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "in"))
        )
        q = (
            stream.writeStream.foreachBatch(_fold_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        maxima = (
            spark.read.parquet(parts_dir)
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
        )
        est = SK.hll_estimate(maxima)
        exact = (
            docs.select(
                F.explode(
                    F.split(F.lower(F.col("text")), r"\s+")
                ).alias("key")
            )
            .filter(F.col("key") != "")
            .distinct()
            .agg(F.count("*").alias("exact_distinct"))
        )
        return est.crossJoin(exact).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def replay_cm_heavy_hitters(
    spark: SparkSession, docs: DataFrame, k: int = 20, n_slices: int = 4
) -> DataFrame:
    """(item, true_count, cm_estimate) top-``k`` heavy hitters from a
    Count-Min sketch built THROUGH a real micro-batch stream: each
    batch appends its own (row, bucket, c) partial grid in
    ``foreachBatch``; the final grid merges partials with one integer
    SUM per cell - counter addition is exactly associative, so the
    stream-built sketch is bit-identical to the one-shot batch sketch
    regardless of slicing (the batch heavy-hitters oracle applies
    verbatim).  Probes (all distinct tokens) and true counts are
    recomputed batch-side for the side-by-side, as in the batch query."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    from ..operators import sketch as SK

    work = tempfile.mkdtemp(prefix="sgraft_cmreplay_")
    try:
        os.makedirs(os.path.join(work, "in"))
        order = Window.orderBy(F.col("doc_id").asc())
        sliced = docs.withColumn("__slice", F.ntile(n_slices).over(order))
        for kk in range(1, n_slices + 1):
            _stage_slice(
                sliced.filter(F.col("__slice") == kk).drop("__slice"),
                work, kk,
            )
        parts_dir = os.path.join(work, "sketch")

        def _fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
            toks = (
                batch_df.select(
                    F.explode(
                        F.split(F.lower(F.col("text")), r"\s+")
                    ).alias("item")
                )
                .filter(F.col("item") != "")
            )
            SK.cm_sketch(toks).write.mode("append").parquet(parts_dir)

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "in"))
        )
        q = (
            stream.writeStream.foreachBatch(_fold_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        grid = (
            spark.read.parquet(parts_dir)
            .groupBy("row", "bucket")
            .agg(F.sum("c").alias("c"))
        )
        toks = (
            docs.select(
                F.explode(
                    F.split(F.lower(F.col("text")), r"\s+")
                ).alias("item")
            )
            .filter(F.col("item") != "")
            .persist()
        )
        est = SK.cm_query(grid, toks.distinct())
        true = toks.groupBy("item").agg(F.count("*").alias("true_count"))
        out = (
            est.join(true, "item")
            .select("item", "true_count", "cm_estimate")
            .orderBy(F.col("cm_estimate").desc(), F.col("item").asc())
            .limit(k)
            .localCheckpoint(eager=True)
        )
        toks.unpersist()
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def replay_quantile_sketch(
    spark: SparkSession, events: DataFrame, n_slices: int = 4
) -> DataFrame:
    """(qname, est_raw) quantile estimates from the equi-width
    histogram sketch built THROUGH a real micro-batch stream: each
    batch bins its own rows against a FROZEN range (the range must be
    fixed before partials are produced - per-batch ranges would not be
    mergeable) and APPENDS its partial per-bin counts; the readout
    merges with one per-bin sum.  Per-bin sum is associative and
    commutative, so the merged grid - and therefore every quantile
    answer - is bit-identical to the one-shot batch sketch no matter
    how the stream was sliced, and the batch query's exact-SQL oracle
    applies verbatim."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    from ..operators import sketch as SK

    ev = events.select(
        F.col("value").cast("double").alias("v"), "event_id"
    )
    vm = float(ev.agg(F.max("v")).collect()[0][0])

    work = tempfile.mkdtemp(prefix="sgraft_qsketch_")
    try:
        os.makedirs(os.path.join(work, "in"))
        order = Window.orderBy(F.col("event_id").asc())
        sliced = ev.withColumn("__slice", F.ntile(n_slices).over(order))
        for k in range(1, n_slices + 1):
            _stage_slice(
                sliced.filter(F.col("__slice") == k).drop("__slice"),
                work, k,
            )
        parts_dir = os.path.join(work, "sketch")

        def _fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
            bcol = F.least(
                F.floor(
                    F.col("v") * F.lit(float(SK.HIST_BINS)) / F.lit(vm)
                ).cast("long"),
                F.lit(SK.HIST_BINS - 1),
            )
            (
                batch_df.select(bcol.alias("bin"))
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .write.mode("append")
                .parquet(parts_dir)
            )

        stream = (
            spark.readStream.schema(sliced.drop("__slice").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "in"))
        )
        q = (
            stream.writeStream.foreachBatch(_fold_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        hist = (
            spark.read.parquet(parts_dir)
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        vmax_df = spark.createDataFrame([(vm,)], "__vmax double")
        return SK.histogram_quantiles(hist, vmax_df).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# Static enrichment dim for the stream-static join replay: the weight a
# downstream value model assigns each event type.  Mirrored as a SQL
# VALUES list by the oracle.
ENRICH_WEIGHTS = (
    ("view", 1),
    ("click", 3),
    ("purchase", 10),
    ("signup", 5),
)


def replay_enriched_totals(
    spark: SparkSession, events: DataFrame, n_slices: int = 4
) -> DataFrame:
    """(event_type, weighted_total, n_events): stream-STATIC join
    through a real micro-batch stream.  Each batch inner-joins the
    broadcast static weight dim (a stateless BroadcastHashJoin - the
    canonical enrichment shape: no stream state, no watermark), folds
    its own partial (sum of DECIMAL value * weight, count) and APPENDS
    it; the read-side merge re-sums the partials.  DECIMAL addition is
    exact and associative, so the result is bit-identical to the batch
    join + aggregate no matter how the stream was sliced - the batch
    SQL oracle applies verbatim.  Types absent from the dim ('error')
    drop out in every batch, exactly as in the batch join."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    dim = spark.createDataFrame(
        list(ENRICH_WEIGHTS), "event_type string, weight int"
    )
    work = tempfile.mkdtemp(prefix="sgraft_enrichreplay_")
    try:
        os.makedirs(os.path.join(work, "in"))
        order = Window.orderBy(F.col("event_id").asc())
        sliced = events.withColumn(
            "__slice", F.ntile(n_slices).over(order)
        )
        for k in range(1, n_slices + 1):
            _stage_slice(
                sliced.filter(F.col("__slice") == k).drop("__slice"),
                work, k,
            )
        parts_dir = os.path.join(work, "parts")

        def _fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
            j = batch_df.join(F.broadcast(dim), "event_type")
            (
                j.groupBy("event_type")
                .agg(
                    F.sum(
                        F.col("value").cast("decimal(18,2)")
                        * F.col("weight")
                    ).alias("part_sum"),
                    F.count("*").alias("part_n"),
                )
                .write.mode("append")
                .parquet(parts_dir)
            )

        stream = (
            spark.readStream.schema(sliced.drop("__slice").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "in"))
        )
        q = (
            stream.writeStream.foreachBatch(_fold_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        out = (
            spark.read.parquet(parts_dir)
            .groupBy("event_type")
            .agg(
                F.sum("part_sum").cast("double").alias("weighted_total"),
                F.sum("part_n").alias("n_events"),
            )
            .orderBy("event_type")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
