"""Streaming ingest + windowed aggregation over the ``events`` table.

The reference *declares* a Kafka → Spark streaming leg but ships no
consumer (reference Makefile:149-179 creates topics, runs a Faker
producer and a spark-submit consumer whose scripts are absent; the
Kafka jars are baked into the image at reference
docker/Dockerfile.spark:7-11). Semantics are therefore OUR choice
(SURVEY.md §2.9 T3): JSON payload decode → event-time tumbling-window
aggregation, mirroring the batch aggregation surface.

Determinism rules (SURVEY.md §7 risk c): tests and registered queries
replay the parquet fixture with ``availableNow`` — never wall-clock
triggers; the windowed aggregation runs in ``complete`` output mode so
every window emits at end-of-replay and the result equals the batch
``groupBy(window(...))`` over the same rows — giving the streaming
query a full-strength DuckDB oracle.

Kafka wiring (T1): the same pipeline runs against a live topic by
swapping the source — ``spark.readStream.format("kafka")`` + the JSON
decode below; gated behind an option since the test container has no
broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import EVENT_PROPS, EVENTS
from ..session import with_conf
from ..stage import replay, scratch


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str | None = "events.parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming source over an events directory (explicit schema, 1-file micro-batches).

    The default glob picks the single ``events.parquet`` out of a
    fixture dir; pass ``path_glob=None`` for a landing directory of
    arbitrarily-named arriving files (the incremental-MV case).

    ``max_files_per_trigger`` sizes the replay's micro-batches (None =
    everything available in one batch). The default 1 keeps the
    fixture replays genuinely multi-batch; Python-worker-bound
    stateful consumers pass a larger value at scale — per-batch cost
    there is dominated by touched-keys x per-group pandas invocation,
    so fewer, larger batches amortize it (r13 A/B on
    user_totals_stateful).

    When ``events.parquet`` is a DIRECTORY of part files (a replicated
    corpus is one), the glob filter would match nothing — the
    part files' leaf names don't match ``events.parquet`` — and the
    stream would silently replay ZERO rows (r11 finding: a width A/B
    on a x64 replica returned rows=0). Directory sources are read
    directly instead.
    """
    import os

    # ts is parquet TIMESTAMP(µs); the explicit EVENTS schema reads it
    # directly (no inference) under the UTC session-timezone pin.
    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if path_glob:
        target = os.path.join(sf_dir, path_glob)
        if os.path.isdir(target):
            return reader.parquet(target)
        return reader.option("pathGlobFilter", path_glob).parquet(sf_dir)
    return reader.parquet(sf_dir)


def from_kafka(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame:
    """Kafka source variant (T1): value is the JSON-encoded event row.

    Requires the spark-sql-kafka package on the classpath; not used in
    tests (no broker in the container) — the parquet replay above
    exercises identical downstream logic.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS).alias("e")
    ).select("e.*")


def hourly_window_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type (T3 semantics).

    Works identically on a batch or streaming DataFrame — the batch
    form is the oracle for the streaming form.
    """
    k = F.from_json("props", EVENT_PROPS).getField("k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.sum("k").alias("sum_k"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "sum_k",
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes per event_type.

    Each event lands in exactly two windows (window length / slide);
    Spark materializes the duplication inside the window operator —
    shuffle volume is rows × overlap, the standard sliding cost. Works
    on batch and streaming inputs alike.
    """
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


#: Sentinel event type for end-of-stream punctuation (see
#: session_window_stream): advances the event-time watermark past every
#: open session so append mode can flush trailing state, and is
#: filtered out before the aggregation so it never lands in a session.
EOS_EVENT_TYPE = "__eos__"


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native gap-based session windows per user (F.session_window).

    Sessions merge while each event arrives before the running
    ``last_ts + gap`` deadline; ``session_end`` is last-event ts + gap.
    Money accumulates in integer cents (sessions merge in
    nondeterministic order under streaming — integer addition is
    order-free, float addition is not), so batch, streaming, and the
    DuckDB oracle agree bit-for-bit. Works on batch and streaming
    inputs alike; on a stream the caller must set a watermark first.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    # NOTE: no sentinel filter here — a pre-aggregation filter on
    # event_type gets predicate-pushed BELOW the EventTimeWatermark
    # node (it doesn't reference ts), which would delete the EOS row
    # before watermark stats collection and the trailing sessions would
    # never flush. The sentinel sessions under its own user_id=-1 key
    # and is dropped from the bounded sink output instead.
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents) / 100.0).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def session_window_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", n_chunks: int = 2
) -> DataFrame:
    """Streaming session windows over the events replay, flushed exactly.

    Append mode only emits a session once the watermark passes its end —
    so with a plain replay the trailing ``gap`` of sessions would stay
    in state forever (the watermark stops at max event time). The
    standard fix is end-of-stream punctuation: replay the fixture into
    a temp dir plus one sentinel event 10 days past the horizon. The
    sentinel flows through the watermark node (advancing event time
    past every session end), sessions alone under its reserved
    user_id=-1 key, and is dropped from the bounded sink output;
    availableNow's final no-data micro-batch then flushes every session.
    """
    import datetime as dt
    import os

    from ..catalog import _assert_events_ts_format

    src = os.path.join(sf_dir, "events.parquet")
    _assert_events_ts_format(src)

    def chunks():
        batch = spark.read.schema(EVENTS).parquet(src)
        lo, hi = batch.agg(F.min("ts"), F.max("ts")).collect()[0]  # bounded: two scalars
        # Replay order must be (roughly) event-time order: the file source
        # feeds micro-batches in mtime order, and once the watermark
        # advances past a later batch's data those rows are dropped as
        # late. Cut the fixture into n_chunks disjoint ascending time
        # ranges (the default 2 keeps the replay bit-identical to the
        # pre-r14 staging; a larger value measures the batch-count
        # cost law on this JVM-side consumer), then the sentinel file.
        cuts = [lo + (hi - lo) * i // n_chunks for i in range(n_chunks + 1)]
        cuts[-1] = hi + dt.timedelta(microseconds=1)
        sentinel = spark.createDataFrame(
            [(-1, hi + dt.timedelta(days=10), -1, EOS_EVENT_TYPE, 0.0, "{}")],
            EVENTS,
        )
        return [
            batch.filter((F.col("ts") >= cuts[i]) & (F.col("ts") < cuts[i + 1]))
            for i in range(n_chunks)
        ] + [sentinel], None

    stage, _ = replay(spark, "events_eos", src, (n_chunks,), chunks)
    events = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", "0 seconds")
    )
    # Per-user session state scales with the keyspace: replicated
    # corpora multiply state rows, and the fixed width-8 that is right
    # at sf0.1 serializes per-store work at scale — measured 563 s at
    # 128x (10.5x wall for 2x data over 64x) before this sizing, r11.
    out = run_available_now(
        session_window_agg(events, gap),
        "append",
        state_partitions=state_width_for(src),
    )
    return out.filter(F.col("user_id") >= 0)  # drop the sentinel's own session


def replay_files_per_trigger(src: str, target_batches: int = 4) -> int:
    """maxFilesPerTrigger sizing for a PYTHON-WORKER-BOUND stateful
    replay (applyInPandasWithState consumers): cap the replay at
    ``target_batches`` micro-batches regardless of how many part files
    the source has.

    The cost law (documented on user_running_totals; measured by the
    r13 A/B): per-batch
    cost is dominated by touched-keys x one pandas invocation per
    group, so a replay's wall time is ~linear in BATCH COUNT when most
    keys appear in every batch — at 64x (32 part files, 96k users),
    32 batches took 360 s, 8 took 92 s, 4 took 55 s, 1 took 21 s,
    value hash identical across all four. A file-count-shaped batch
    count (the old maxFilesPerTrigger=1) lets the STAGING layout pick
    the multiplier; this law pins it. target_batches=4 keeps the
    replay genuinely multi-batch (the stateful accumulation under
    demonstration) while paying the per-batch key tax four times, not
    once per file. Single-file fixture sources derive 1 — bit-identical
    replay to the old hardcoded setting at every fixture SF. JVM-side
    windowed aggs don't need this: their per-batch cost is a scan, not
    a per-group Python call.
    """
    from ..catalog import _parquet_parts

    n_files = len(_parquet_parts(src))
    return max(1, -(-n_files // target_batches))


def state_width_for(src: str) -> int:
    """Streaming state-shuffle width for a PER-KEY stateful query whose
    keyspace scales with the corpus (users, join rows in the watermark
    window, sessions): ~one state store per MB of source, clamped
    [8, 32] locally.

    The cost law (funnel r6; session stream r11, measured 563 s → 187 s
    at 128x): per-batch work is touched-keys / width plus a fixed
    store round-trip per (batch, store), so width must track state
    volume — a fixed 8 serializes replicated corpora, a fixed 32 pays
    4x store round-trips for nothing on the small fixtures. Bounded
    keyspaces (teams, hourly windows, event types) stay at the default
    8 and must NOT use this. On a cluster the clamp rises with
    executor memory; it must stay fixed across restarts of one
    checkpoint (availableNow replays with fresh checkpoints never hit
    that). The source may be a directory of parts (a replicated corpus
    is one), so the probe sums physical files.
    """
    import os as _os

    from ..catalog import _parquet_parts

    src_bytes = sum(_os.stat(p).st_size for p in _parquet_parts(src))
    return int(max(8, min(32, src_bytes // (1 << 20))))


def run_available_now(
    stream_df: DataFrame,
    output_mode: str,
    state_partitions: int = 8,
    progress_out: list | None = None,
) -> DataFrame:
    """Drive a stream to completion; return what it emitted as a batch frame.

    ``availableNow`` processes every pending file then terminates —
    deterministic replay, no wall clock. Each micro-batch lands in a
    scratch parquet sink through :func:`stream_to_parquet_exactly_once`,
    so emitted rows never accumulate in one JVM (r12 finding: a driver-
    heap sink held the ~14M rows of the 128x dedup_stream_watermarked
    leg and OOMed the 8g driver); this is also the only shape that works
    on a real cluster. The read-back is the whole sink: in ``append`` /
    ``update`` mode each batch's emitted rows appear once (update-mode
    emissions are appended, not compacted — callers keep the last
    emission per key); in ``complete`` mode the sink holds one copy of
    the result table, the last batch's.

    ``state_partitions`` sizes the stream's shuffle width, which for a
    stateful query is the number of state stores touched EVERY
    micro-batch (AQE cannot resize streaming shuffles). The rule: size
    it to state volume, not input volume — these fixture streams keep
    thousands of state rows, where the session's batch width (32) costs
    batches x partitions store round-trips for nothing (measured 4.8 s
    -> 2.7 s on the session stream at sf0.1). A 100 TB keyspace raises
    it; it must stay FIXED across restarts of one checkpoint (state
    store count is pinned at first start), which availableNow replays
    with fresh checkpoints never hit. The width is set on a clone of
    the stream's session; the caller's session keeps its own.

    ``progress_out`` (observability): when a list is passed, every
    StreamingQueryProgress dict from the finished run is appended to
    it — the production signals (numRowsDroppedByWatermark, state-rows
    counts, per-batch durations) a replay otherwise discards.

    The spill root is reclaimed EAGERLY: the read-back is
    ``localCheckpoint(eager=True)``-ed (lineage-free, block-manager
    storage with disk spill) and the scratch dir is removed before
    returning, so a long session running many drains does not
    accumulate gigabytes of scratch disk (ADVICE r12 #1). The checkpoint
    blocks are not reaped here: each drain's blocks, bounded by its
    read-back rows, stay in the block manager at most until the session
    ends. A stream that emits nothing returns an empty frame with the
    stream's schema (a bare read of a file-less dir would raise
    'Unable to infer schema').
    """
    import glob
    import json
    import os
    import shutil

    spark = stream_df.sparkSession
    root = scratch(spark, "drain")
    out_dir = os.path.join(root, "out")
    try:
        width = {"spark.sql.shuffle.partitions": str(state_partitions)}
        q = stream_to_parquet_exactly_once(
            with_conf(stream_df, width), out_dir, os.path.join(root, "ckpt"), output_mode
        )
        if progress_out is not None:
            progress_out.extend(json.loads(p.json) for p in q.recentProgress)
        if not glob.glob(os.path.join(out_dir, "_epoch=*", "*.parquet")):
            return spark.createDataFrame([], stream_df.schema)
        return spark.read.parquet(out_dir).drop("_epoch").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: stream replay → windowed agg → final table."""
    agg = hourly_window_agg(read_events_stream(spark, sf_dir))
    return run_available_now(agg, "complete").orderBy("window_start", "event_type")


def stream_to_parquet_exactly_once(
    stream_df: DataFrame, path: str, checkpoint_dir: str, output_mode: str = "append"
) -> StreamingQuery:
    """foreachBatch parquet sink with replay-safe (exactly-once) writes.

    Each micro-batch lands in its own ``_epoch=<id>`` partition with
    dynamic partition overwrite, so a batch replayed after a crash
    overwrites its own partition instead of appending duplicates; the
    checkpoint tracks which source files each epoch consumed. A
    ``complete``-mode batch is the whole result table, so each one
    replaces ``_epoch=0``: the sink holds one copy. Runs with
    ``availableNow`` and returns the terminated query, whose
    ``recentProgress`` stays readable. Pointed at a lake path this is
    the durable sink; :func:`run_available_now` drains through it into
    scratch space.
    """

    def land(df: DataFrame, epoch_id: int) -> None:
        (
            df.withColumn("_epoch", F.lit(0 if output_mode == "complete" else epoch_id))
            .write.mode("overwrite")
            .partitionBy("_epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )

    q = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _stage_time_ordered_replay(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Stage the events fixture as ``n_chunks`` time-ASCENDING
    micro-batches with pinned increasing mtimes.

    Replay arrival order then mirrors event time — the realistic
    production arrival shape — so watermarked consumers don't drop most
    rows as late when the raw source is a randomly-split directory
    (r12 review finding: a replicated corpus's 32 random parts advanced
    the stream-stream join's watermark near the horizon after one file
    and the 64x/128x legs measured mostly the late-drop path; a
    time-split replay has zero drops because a chunk boundary orders
    both join sides together). Cuts are integer epoch-us slices
    ``lo + k*span//n`` — deterministic for any consumer that wants to
    reason about batch contents.
    """
    import os

    from ..catalog import _assert_events_ts_format

    src = os.path.join(sf_dir, "events.parquet")
    _assert_events_ts_format(src)

    def chunks():
        batch = spark.read.schema(EVENTS).parquet(src)
        lo_us, hi_us = batch.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).collect()[0]  # bounded: two scalars
        span = hi_us - lo_us
        us = F.unix_micros(F.col("ts"))
        frames = []
        for i in range(n_chunks):
            lo_cut = lo_us + i * span // n_chunks
            hi_cut = lo_us + (i + 1) * span // n_chunks
            cond = (us >= lo_cut) & (us < hi_cut) if i < n_chunks - 1 else (us >= lo_cut)
            frames.append(batch.filter(cond))
        return frames, None

    return replay(spark, "torder", src, (n_chunks,), chunks)[0]


def view_click_stream_join(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Stream-stream inner join: click attribution to a preceding view.

    Two independent streams over the same replay (views, clicks), both
    watermarked; the join predicate is user equality AND a bounded
    event-time range (click within 10 minutes after the view) — the
    range bound is what lets Spark evict join state once the watermark
    passes, keeping state finite on an unbounded feed. Inner-join
    matches emit as soon as both sides arrive, so an availableNow
    replay produces exactly the batch join result.

    Both sides replay the TIME-ORDERED staging
    (:func:`_stage_time_ordered_replay`), never the raw source reader:
    a randomly-split multi-part source (a replicated corpus's shape)
    advances the watermark near the horizon after one file and the
    join silently drops most rows as late — a plausible-but-partial
    result, worse than the zero-row symptom the r12 directory fix
    caught. Time-ascending chunks drop nothing (a chunk boundary
    orders both sides together), so the drained result equals the
    batch join at every replica shape.
    """
    stage = _stage_time_ordered_replay(spark, sf_dir, n_chunks=n_chunks)

    def side(evt: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .filter(F.col("event_type") == evt)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    views, clicks = side("view", "v"), side("click", "c")
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    # Join state = rows inside the watermark window, which scales with
    # the corpus — size the state shuffle like the other per-key streams.
    import os as _os

    width = state_width_for(_os.path.join(sf_dir, "events.parquet"))
    return run_available_now(joined, "append", state_partitions=width).select(
        "v_event_id", "c_event_id", F.col("v_user").alias("user_id"), "v_ts", "c_ts"
    )


def segment_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + aggregation by enriched key.

    The static side (customer market segment) is a plain batch
    DataFrame joined into the stream — Spark re-plans it per
    micro-batch and broadcasts it under the join threshold, so the
    stream never shuffles for the enrichment; only the aggregation
    state is keyed. Inner semantics: events with no customer row
    (unknown user) drop, matching the batch oracle.
    """
    from ..schemas import CUSTOMER

    segments = (
        spark.read.schema(CUSTOMER)
        .parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    # read_events_stream handles directory-shaped events sources (a raw
    # pathGlobFilter reader silently replays zero rows there — the r11
    # session-stream finding, swept to every event-stream site in r12)
    enriched = read_events_stream(spark, sf_dir).join(segments, "user_id")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    return run_available_now(agg, "complete")


def _stage_wmdrop_replay(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture as a replay WITH PLANTED LATE ARRIVALS.

    Four micro-batches with pinned strictly-increasing mtimes (the
    session-stream replay pattern):

    1. events in the first half of the time range   (on time)
    2. events in the second half                    (on time; advances
       the watermark to ``hi - delay``)
    3. REPLAYED COPIES of every event in the first EIGHTH of the range
       — all of them now sit far behind the watermark, so the windowed
       aggregation must drop every one as late
    4. the EOS sentinel 10 days past the horizon (flushes all real
       windows in append mode; its own window never flushes)

    All cuts are integer epoch-MICROSECOND arithmetic
    (``lo + (hi - lo) // k``) so the DuckDB oracle replays the planted
    set bit-exactly with ``epoch_us`` + integer division.
    """
    import datetime as dt
    import os

    from ..catalog import _assert_events_ts_format

    src = os.path.join(sf_dir, "events.parquet")
    _assert_events_ts_format(src)

    def chunks():
        batch = spark.read.schema(EVENTS).parquet(src)
        lo_us, hi_us = batch.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).collect()[0]  # bounded: two scalars
        mid_us = lo_us + (hi_us - lo_us) // 2
        eighth_us = lo_us + (hi_us - lo_us) // 8
        # Precondition (ADVICE r11): every planted copy (first eighth)
        # must be DROPPABLE — its hour window has to end at least
        # ``delay`` before the watermark high-point, with one extra
        # window of margin. On a short-span fixture some copies would
        # silently survive and the query would fail its oracle with an
        # unexplained hash mismatch instead of this error.
        delay_us = 3_600_000_000  # watermark_drop_audit's "1 hour" default
        window_us = 3_600_000_000
        eighth_window_end = ((eighth_us + window_us - 1) // window_us) * window_us
        if eighth_window_end + delay_us + window_us > hi_us:
            raise AssertionError(
                "wmdrop replay precondition: the events fixture spans "
                f"{(hi_us - lo_us) / 3.6e9:.2f}h but the planted-late design needs "
                "hour_ceil(lo + span/8) + 1h delay + 1h window <= hi "
                "(roughly a >=2.5h span) so every planted copy is behind "
                "the watermark; use a longer-span fixture"
            )
        us = F.unix_micros(F.col("ts"))
        hi = dt.datetime.fromtimestamp(hi_us / 1e6, dt.timezone.utc).replace(tzinfo=None)
        sentinel = spark.createDataFrame(
            [(-1, hi + dt.timedelta(days=10), -1, EOS_EVENT_TYPE, 0.0, "{}")],
            EVENTS,
        )
        return [
            batch.filter(us < mid_us),
            batch.filter(us >= mid_us),
            batch.filter(us < eighth_us),  # planted late replays
            sentinel,
        ], None

    return replay(spark, "wmdrop", src, (), chunks)[0]


def watermark_drop_audit(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "1 hour",
    progress_out: list | None = None,
) -> DataFrame:
    """Per-window late-data accounting: observed vs dropped-as-late.

    The streaming-production signal a correct pipeline must surface:
    of the rows that ARRIVED for each event-time window, how many made
    it into the aggregate and how many the watermark discarded. Runs
    the planted-late replay (:func:`_stage_wmdrop_replay`) through an
    hourly windowed count with ``withWatermark(ts, delay)`` in append
    mode, then joins against a batch count of everything that arrived:

    - ``n_observed``  — rows replayed for the window (sentinel excluded)
    - ``n_on_time``   — rows the streaming aggregate actually counted
    - ``n_dropped_late`` — the difference: exactly the planted copies

    The DuckDB oracle replays the planted-set rule (first eighth of
    the integer-microsecond time range) and asserts the watermark
    dropped ALL planted rows and ONLY planted rows — a streaming run
    that dropped nothing, or too much, hash-mismatches. Per-batch
    ``numRowsDroppedByWatermark`` is additionally exposed via
    ``progress_out`` and pinned equal to the audit total in
    tests/test_streaming.py.
    """
    stage = _stage_wmdrop_replay(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", delay)
    )
    # No pre-aggregation sentinel filter (see session_window_agg NOTE):
    # the EOS row must reach the watermark node; its own window never
    # flushes in append mode, so it self-excludes from the output.
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_on_time"))
        .select(F.col("w.start").alias("window_start"), "n_on_time")
    )
    on_time = run_available_now(agg, "append", progress_out=progress_out)
    observed = (
        spark.read.schema(EVENTS)
        .parquet(stage)
        .filter(F.col("event_type") != EOS_EVENT_TYPE)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_observed"))
        .select(F.col("w.start").alias("window_start"), "n_observed")
    )
    n_on_time = F.coalesce(F.col("n_on_time"), F.lit(0)).cast("long")
    return (
        observed.join(on_time, "window_start", "left")
        .select(
            "window_start",
            F.col("n_observed").cast("long").alias("n_observed"),
            n_on_time.alias("n_on_time"),
            (F.col("n_observed") - n_on_time).cast("long").alias("n_dropped_late"),
        )
        .orderBy("window_start")
    )


def _stage_wmdedup_replay(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage the events fixture as a duplicate-delivery replay for
    ``dropDuplicatesWithinWatermark``. Returns ``(stage_dir, delay_us)``.

    Four micro-batches with pinned strictly-increasing mtimes; all cuts
    integer epoch-microsecond arithmetic (``lo + k*span//8``) so the
    DuckDB oracle replays the planted sets bit-exactly. With
    ``delay = span//4`` (watermark horizon, ~7.5 days on the 30-day
    fixture — margins are span-proportional, no absolute-time
    precondition):

    1. originals with ``us < mid``                      → all EMITTED
    2. originals with ``us >= mid``, PLUS copies of every event in
       ``[lo+3s/8, mid)`` shifted ``+s/16``             → copies
       SUPPRESSED: on-time duplicates whose key state is live
       (expiry >= lo+5s/8 > the batch's watermark lo+s/4)
    3. copies of every event in ``[lo+2s/8, lo+3s/8)`` at their
       ORIGINAL ts                                      → SUPPRESSED:
       late (behind watermark hi-s/4) but the key state is live, and
       the operator checks state before the late filter (probed
       empirically: late+state-hit suppresses with
       numRowsDroppedByWatermark = 0)
    4. copies of every event in the first EIGHTH shifted ``+7s/8``
       (on-time: >= lo+7s/8 > watermark lo+3s/4)        → RE-EMITTED:
       their key state aged out (expiry < lo+3s/8, evicted at the end
       of batch 3) — the bounded-state trade-off of
       ``dropDuplicatesWithinWatermark`` made visible

    Probed operator semantics this staging relies on (PySpark 4.1):
    the first arrival is emitted immediately in append mode; suppressed
    duplicates do NOT refresh state expiry; state eviction runs at
    END of batch with the batch's watermark (so a re-arrival in the
    same batch as its eviction is still suppressed — batches 3/4 are
    therefore separate).
    """
    import os

    from ..catalog import _assert_events_ts_format

    src = os.path.join(sf_dir, "events.parquet")
    _assert_events_ts_format(src)

    def chunks():
        batch = spark.read.schema(EVENTS).parquet(src)
        lo_us, hi_us, n_rows, n_keys = batch.agg(
            F.min(F.unix_micros("ts")),
            F.max(F.unix_micros("ts")),
            F.count(F.lit(1)),
            F.count_distinct("event_id"),
        ).collect()[0]  # bounded: four scalars
        # The oracle models "one emit per original + one per aged-out
        # replay", which requires the dedup key be unique in the source.
        if n_rows != n_keys:
            raise AssertionError(
                f"wmdedup replay precondition: event_id must be unique in "
                f"{src} ({n_rows} rows, {n_keys} distinct ids)"
            )
        span = hi_us - lo_us
        if span < 64:  # degenerate: every span//k cut collapses
            raise AssertionError(
                f"wmdedup replay precondition: events span {span}us is too "
                "short for the span//16 planting cuts"
            )
        mid = lo_us + span // 2
        us = F.unix_micros(F.col("ts"))
        # filter on the ORIGINAL ts BEFORE shifting — a post-withColumn
        # filter on unix_micros("ts") would resolve against the shifted
        # column and select the wrong slice
        shifted = lambda cond, delta: batch.filter(cond).withColumn(  # noqa: E731
            "ts", F.timestamp_micros(us + F.lit(delta))
        )
        return [
            batch.filter(us < mid),
            batch.filter(us >= mid).unionByName(
                shifted((us >= lo_us + 3 * span // 8) & (us < mid), span // 16)
            ),
            batch.filter((us >= lo_us + 2 * span // 8) & (us < lo_us + 3 * span // 8)),
            shifted(us < lo_us + span // 8, 7 * span // 8),
        ], span // 4

    return replay(spark, "wmdedup", src, (), chunks)


def dedup_stream_watermarked(
    spark: SparkSession,
    sf_dir: str,
    progress_out: list | None = None,
) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    over the duplicate-delivery replay, audited per hour window.

    The production variant of ``dedup_stream`` (whose plain
    ``dropDuplicates`` keeps one state row per distinct key FOREVER —
    unbounded on an unbounded feed): state is evicted once the
    watermark passes ``first_seen_ts + delay``, so duplicates
    redelivered within the horizon are suppressed while state stays
    proportional to the horizon, not the corpus. The cost of that
    bound is visible in the output: the aged-out replays (batch 4 of
    :func:`_stage_wmdedup_replay`) are RE-EMITTED.

    Output per event-hour: ``n_arrived`` (all replayed rows, planted
    copies included, at their replayed ts) / ``n_emitted`` (rows the
    dedup stream actually passed) / ``n_suppressed`` (the difference).
    The DuckDB oracle replays the planted-set rules bit-exactly, so the
    strict hash pins that the stream suppressed ALL within-horizon
    duplicates and ONLY those — a run that deduped nothing, or that
    also swallowed the aged-out replays (i.e. unbounded state), both
    hash-mismatch. Per-batch state-row counts are exposed via
    ``progress_out``; tests/test_streaming.py pins that state SHRINKS
    at the horizon while plain ``dropDuplicates`` state only grows.
    """
    import os

    src = os.path.join(sf_dir, "events.parquet")
    stage, delay_us = _stage_wmdedup_replay(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", f"{delay_us} microseconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    # Keyspace scales with the corpus (one state row per live event_id)
    # → width sized by the state-width law, like the other per-key
    # stateful streams.
    emitted = run_available_now(
        stream.select("event_id", "ts"),
        "append",
        state_partitions=state_width_for(src),
        progress_out=progress_out,
    )
    hour = lambda df: F.date_trunc("hour", df["ts"]).alias("window_start")  # noqa: E731
    arrived = spark.read.schema(EVENTS).parquet(stage)
    a = arrived.groupBy(hour(arrived)).agg(
        F.count(F.lit(1)).cast("long").alias("n_arrived")
    )
    e = emitted.groupBy(hour(emitted)).agg(
        F.count(F.lit(1)).cast("long").alias("n_emitted")
    )
    n_emitted = F.coalesce(F.col("n_emitted"), F.lit(0)).cast("long")
    return (
        a.join(e, "window_start", "left")
        .select(
            "window_start",
            "n_arrived",
            n_emitted.alias("n_emitted"),
            (F.col("n_arrived") - n_emitted).cast("long").alias("n_suppressed"),
        )
        .orderBy("window_start")
    )
