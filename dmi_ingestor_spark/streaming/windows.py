"""Event-time windowing, shared between batch and streaming (SURVEY.md §2.9).

The reference achieves "streaming" by re-running a batch container per
forecast cycle (``Dockerfile:28``, delete+replace at
``dmi_ingestor/ingestor.py:199``); the Spark-native analogue is the same
declarative window expressions executed either on a static DataFrame
(batch, DuckDB-checkable) or under ``readStream`` with a watermark and
``Trigger.AvailableNow`` (St6 — incremental re-runs with state kept in
the checkpoint, not re-read from scratch).

Every builder here takes the *events DataFrame*, so the identical
expression tree serves both modes — the batch queries in
``queries/streaming.py`` and the streaming runner below.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import sum_exact
from dmi_ingestor_spark.ingest.fs import scratch_dir



def _event_time(events: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP.

    The driver's parquet fixtures carry ts as TIMESTAMP_NTZ (no UTC
    adjustment); window()/session_window() then emit NTZ bounds, which
    unix_micros() rejects. A cast on the NTZ batch input (UTC session)
    is a pure type change; streaming inputs already build TIMESTAMP via
    timestamp_micros, and a no-op cast would detach the watermark, so
    only NTZ inputs are touched.
    """
    if dict(events.dtypes).get(col) == "timestamp_ntz":
        return events.withColumn(col, F.col(col).cast("timestamp"))
    return events


def tumbling_counts(events: DataFrame, size: str = "1 hour") -> DataFrame:
    """St1: tumbling event-time window aggregate per event_type."""
    events = _event_time(events)
    return (
        events.groupBy(F.window("ts", size), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_exact("value", "sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            F.unix_micros(F.col("window.end")).alias("win_end_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """St2: sliding window — each event lands in size/slide windows."""
    events = _event_time(events)
    return (
        events.groupBy(F.window("ts", size, slide))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            F.unix_micros(F.col("window.end")).alias("win_end_us"),
            "n_events",
        )
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """St3: per-user session windows (gap-merged; end = last event + gap)."""
    events = _event_time(events)
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("sess_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("sess_end_us"),
            "n_events",
        )
    )


def dedup_by_key(events: DataFrame) -> DataFrame:
    """St5: keyed dedup — in streaming, state-backed under a watermark.

    Streaming inputs use ``dropDuplicatesWithinWatermark``: plain
    ``dropDuplicates(["event_id"])`` never evicts state when the
    event-time column is not part of the key subset, so dedup state
    grows without bound on a real feed. The within-watermark variant
    expires each key once the watermark passes its first-seen event
    time — bounded state, same emitted rows for keys that repeat within
    the watermark delay. Batch twins keep exact dropDuplicates (the
    whole input is one "batch", no state to bound).
    """
    if events.isStreaming:
        return events.dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


# ---------------------------------------------------------------------------
# Streaming execution (St4/St6)
# ---------------------------------------------------------------------------


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalizing ts to TIMESTAMP.

    Schema must be supplied for streaming file sources, and the
    fixtures have shipped ts as raw int64 nanos in one generation and
    as µs TIMESTAMP_NTZ in another — so the batch reader's inferred
    type decides which decode the stream applies (one cheap footer
    read; no data scan).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_kind = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    )["ts"]
    schema = (
        f"event_id long, ts {'long' if ts_kind == 'bigint' else ts_kind}, "
        "user_id long, event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        # streaming file sources require a directory; glob-filter down
        # to the events file within the sf dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_kind == "bigint":  # int64 nanos → µs timestamp
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Execute a streaming plan to completion with Trigger.AvailableNow
    into an in-memory sink; return the materialized result.

    This is St6 — the reference's "re-run the container per cycle"
    becomes an incremental drain of whatever data is available, with
    exactly-once state in the checkpoint dir.
    """
    spark = stream_df.sparkSession
    with tempfile.TemporaryDirectory(prefix="ckpt-") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(query_name)


def streaming_tumbling_watermarked(
    spark: SparkSession, sf_dir: str, size: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """St1+St4 under real streaming: watermarked tumbling counts.

    Append mode: only windows closed w.r.t. the final watermark
    (max event time − 10 min) are emitted — the tail window is
    withheld, which the invariant test asserts explicitly.
    """
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = tumbling_counts(events, size)
    return run_available_now(agg, "st_tumbling_sink", "append")


def streaming_session_watermarked(
    spark: SparkSession, sf_dir: str, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """St3+St4 under real streaming: watermarked per-user session
    windows. Session state merges adjacent events until the watermark
    passes a session's close (last event + gap); append mode emits only
    sessions the watermark has sealed — the tail sessions stay in
    state, which the invariant test asserts.
    """
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = session_windows(events, gap)
    return run_available_now(agg, "st_session_exec_sink", "append")


def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St5 under real streaming: watermark-scoped keyed dedup."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_available_now(
        dedup_by_key(events).select("event_id", "user_id", "event_type", "value"),
        "st_dedup_sink",
        "append",
    )


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` (SURVEY.md §2.9 / U9 streaming form).

    The state (event count, value sum) lives in the streaming state
    store keyed by user_id — the engine-native replacement for the
    reference's "keep everything in one process' RAM" model
    (``dmi_ingestor/ingestor.py:200``). Each micro-batch updates the
    state from its Arrow batches and emits the cumulative row, so the
    final emission per key equals the global aggregate (invariant
    tested against the batch groupBy).

    Scale: state is O(distinct users), partitioned by key across the
    cluster's state stores; each task sees only its keys' rows.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    out = events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(out, "st_stateful_sink", "update")


def stream_static_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the (static)
    customer dimension, then counted per market segment.

    The static side is planned per micro-batch and broadcast — the
    stream never shuffles for the join; only the small grouped state
    (segment × count) persists. This is the streaming analogue of the
    engine's broadcast-dimension rule for batch joins.
    """
    events = read_events_stream(spark, sf_dir)
    customers = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = events.join(
        F.broadcast(customers), events.user_id == customers.c_custkey, "left"
    )
    agg = enriched.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return run_available_now(agg, "st_stream_static_sink", "complete")


def stream_stream_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds (St surface):
    purchases joined to a click by the same user within the preceding
    hour. Both sides carry watermarks so the state store can evict
    clicks older than the join window — the property that keeps
    stream-stream join state bounded on an unbounded feed.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")
    return run_available_now(joined, "st_ss_join_sink", "append")


def stream_stream_purchase_outer(
    spark: SparkSession, sf_dir: str, how: str = "left_outer"
) -> DataFrame:
    """Outer stream-stream join with watermark-driven null emission
    (``how`` = ``left_outer`` or ``full_outer``; full-outer additionally
    emits clicks that never saw a following-hour purchase, once the
    watermark passes their eviction bound).

    Purchases left-joined to clicks by the same user within the
    preceding hour. An unmatched purchase can only be emitted (with a
    NULL click) once the watermark proves no qualifying click can still
    arrive — i.e. after the watermark passes ``purchase_ts + 1h``. A
    single availableNow batch never advances the watermark past its own
    data, so the feed is staged as two chronologically ordered files
    (``maxFilesPerTrigger=1``): the real events, then one far-future
    sentinel click that drags the watermark past every real purchase's
    eviction bound and flushes the outer rows. The sentinel is on the
    right side of the left join, so it adds no output row itself.

    Scale: state is bounded by the 1 h interval on both sides; the
    sentinel trick is test scaffolding — a production feed advances its
    own watermark.
    """
    import glob
    import os
    import shutil

    staged = scratch_dir("ss-outer")
    try:
        ev = table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        ev.coalesce(1).write.parquet(f"{staged}/w0")
        # two sentinel batches: the first advances the watermark past
        # every real purchase's eviction bound, the second triggers the
        # eviction pass that emits the remaining null-padded rows
        # (availableNow stops once the last file is consumed, so the
        # flush must ride an actual file batch).
        # Each sentinel file carries BOTH a click and a purchase (on
        # disjoint negative user ids so they can't join anything): the
        # global watermark is the MIN across both sides' watermark
        # operators, so a click-only sentinel would leave the purchase
        # watermark pinned at the last real purchase and the final
        # outer row withheld forever.
        for i, days in ((1, 400), (2, 401)):
            sentinel = spark.createDataFrame(
                [(-2 * i, max_ts, -1, "click", 0.0),
                 (-2 * i - 1, max_ts, -2, "purchase", 0.0)],
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double",
            ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
            sentinel.coalesce(1).write.parquet(f"{staged}/w{i}")
        for i in (0, 1, 2):
            part = glob.glob(f"{staged}/w{i}/part-*.parquet")[0]
            os.rename(part, f"{staged}/data{i}.parquet")
            shutil.rmtree(f"{staged}/w{i}")
            os.utime(f"{staged}/data{i}.parquet", times=(1000 + i, 1000 + i))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(staged)
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "1 hour")
        )
        out_cols = ["p_user", "purchase_id", "purchase_ts", "click_id", "click_ts"]
        if how == "full_outer":
            out_cols.insert(3, "c_user")
        joined = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
            how,
        ).select(*out_cols)
        out = run_available_now(joined, f"st_ss_outer_sink_{how}", "append")
        # Drop the sentinel rows AFTER materializing: a filter inside
        # the streaming plan is pushed below the watermark node by
        # Catalyst, which would strip the sentinels before they can
        # advance the per-side watermarks (verified: the tail outer
        # rows were withheld with an in-plan filter).
        keep_p = F.col("p_user").isNull() | (F.col("p_user") >= 0)
        if how == "full_outer":
            keep_c = F.col("c_user").isNull() | (F.col("c_user") >= 0)
            return out.filter(keep_p & keep_c)
        return out.filter(F.col("p_user") >= 0)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def foreachbatch_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St-sink: exactly-once-style keyed upsert via ``foreachBatch``.

    The production micro-batch sink pattern Structured Streaming ships
    no built-in for: an update-mode aggregation emits the CURRENT
    totals of every key touched by each micro-batch, and foreachBatch
    merges them into a parquet target — replace touched keys, keep the
    rest — through a staging-dir + rename swap (Hadoop ``FileSystem``,
    so the same code path works on hdfs:// and s3a://; cf.
    ``ingest/fs.py``). The source is re-split into 4 files and drained
    with ``maxFilesPerTrigger=1``, so the merge genuinely runs 4 times
    against the accumulating target.

    The invariant that makes this oracle-checkable: the final table is
    BATCH-BOUNDARY-INDEPENDENT — any interleaving of micro-batches
    converges to the global per-key aggregate, which DuckDB recomputes
    in one shot. Sums accumulate in decimal(22,8) inside the streaming
    state so the parity is bit-exact (functions/exact.py).

    Aggregation state here is unevicted by design (no watermark): the
    key space is the bounded event_type domain, the same call a
    production totals table makes. Per-event keys would need
    dropDuplicatesWithinWatermark/TTL instead.
    """
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double
    from dmi_ingestor_spark.ingest.fs import _fs_and_path, fs_delete, fs_exists

    workdir = scratch_dir("febupsert")
    src_dir = f"{workdir}/src"
    target = f"{workdir}/totals"
    staging = f"{workdir}/totals.staging"

    # Deterministic 4-way re-split of the events file so AvailableNow +
    # maxFilesPerTrigger=1 yields multiple real micro-batches.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .repartitionByRange(4, "event_id")
        .write.mode("overwrite")
        .parquet(src_dir)
    )

    # ts is unused by the totals aggregate; a ts-free subset schema
    # sidesteps the fixtures' ns-long vs µs-NTZ encoding difference.
    schema = "event_id long, user_id long, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    totals = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if fs_exists(s, target):
            old = s.read.parquet(target)
            merged = old.join(
                batch_df.select("event_type"), "event_type", "left_anti"
            ).unionByName(batch_df)
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(staging)
        fs_delete(s, target)
        fs, jtarget = _fs_and_path(s, target)
        _, jstaging = _fs_and_path(s, staging)
        fs.rename(jstaging, jtarget)

    with tempfile.TemporaryDirectory(prefix="ckpt-") as ckpt:
        q = (
            totals.writeStream.foreachBatch(_merge)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return spark.read.parquet(target).select(
        "event_type",
        "n_events",
        dec_to_double(F.col("sum_dec")).alias("sum_value"),
    )


def user_stats_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, max) under ``applyInPandasWithState``,
    Spark's pandas arbitrary-stateful-processing API, run to completion
    with availableNow.

    State design: one (n, mx) state row per user key. Both statistics
    are ORDER-INDEPENDENT (count and max commute with any micro-batch
    split), so the final emission per key is exactly the batch
    aggregate no matter how availableNow slices the input — which is
    what makes the wrapping query hash-checkable against a plain SQL
    oracle rather than rows-only.

    Scale: state is O(distinct users), hash-partitioned across the
    session's state stores.

    This is the one implementation, whatever is installed. Spark 4's
    ``transformWithState`` successor API needs ``google.protobuf`` in
    the Python worker; choosing it by import would change the plan on
    any host that has the package, with results nothing here checks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            m = pdf["value"].max()
            if m == m:  # not-NaN guard; fixture values are non-null
                mx = m if m > mx else mx
        state.update((n, float(mx)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    out = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="n long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_available_now(out, "st_tws_sink", "update")
    # Cumulative emissions are monotone per key: MAX over them = final
    # state = the global aggregate.
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
    )
