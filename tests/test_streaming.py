"""Streaming leg: availableNow replay must equal the batch aggregation."""

from __future__ import annotations

import os

from data_engineer_8_final_project_spark import catalog
from data_engineer_8_final_project_spark.streaming import events as ev


def test_stream_equals_batch(spark, sf_dir):
    batch = (
        ev.hourly_window_agg(catalog.tables(spark, sf_dir)["events"])
        .orderBy("window_start", "event_type")
        .collect()
    )
    streamed = ev.streaming_hourly(spark, sf_dir).collect()
    assert streamed == batch
    assert len(batch) > 0


def test_watermark_append_mode_drops_open_windows(spark, sf_dir):
    """Append mode + watermark: windows newer than (max_ts - delay) stay open
    at end-of-replay and are withheld — fewer or equal rows vs complete mode."""
    agg = ev.hourly_window_agg(
        ev.read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    )
    appended = ev.run_available_now(agg, output_mode="append")
    complete = ev.streaming_hourly(spark, sf_dir)
    assert appended.count() <= complete.count()


def test_stateful_totals_accumulate_across_microbatches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must carry state across micro-batches: split
    the fixture into 3 files, replay 1 file per trigger, and require the
    final per-user totals to equal the batch aggregate."""
    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark.streaming import stateful

    events = catalog.tables(spark, sf_dir)["events"]
    src = str(tmp_path / "events_split")
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src)
    sink = ev.run_available_now(stateful.user_running_totals(stream), output_mode="update")
    # more than one batch actually ran → sink holds > 1 emission for some user
    assert sink.count() > sink.select("user_id").distinct().count()

    got = {
        r.user_id: (r.n_events, r.sum_value, r.first_ts, r.last_ts)
        for r in stateful.finalize_totals(sink).collect()
    }
    want = {
        r.user_id: (r.n_events, r.sum_value, r.first_ts, r.last_ts)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.expr("CAST(round(value * 100) AS LONG)")) / F.lit(100.0)).alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == want


def test_foreach_batch_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """availableNow replay through the foreachBatch parquet sink equals
    the batch table; re-running against the same checkpoint writes
    nothing new (exactly-once, not at-least-once)."""
    events = catalog.tables(spark, sf_dir)["events"]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events.repartition(3).write.mode("overwrite").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ev.stream_to_parquet_exactly_once(stream, out, ckpt)

    run()
    got = spark.read.parquet(out).drop("_epoch")
    assert got.count() == events.count()
    assert sorted(r.event_id for r in got.select("event_id").collect()) == sorted(
        r.event_id for r in events.select("event_id").collect()
    )

    run()  # same checkpoint: everything already processed → no duplicates
    assert spark.read.parquet(out).count() == events.count()


def test_drop_duplicates_within_watermark_bounded_state(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: the unbounded-feed dedup variant
    (dedup_stream's plain dropDuplicates keeps one state row per key
    FOREVER; the within-watermark form evicts keys once the watermark
    passes, bounding state). Replay events duplicated 2x within the
    delay window and require exactly the batch-distinct id set."""
    from data_engineer_8_final_project_spark.schemas import EVENTS

    src = str(tmp_path / "events_dup")
    batch = spark.read.schema(EVENTS).parquet(f"{sf_dir}/events.parquet").limit(500)
    # duplicate every row (same event_id, same ts) — dup arrives within any delay
    batch.unionByName(batch).coalesce(2).write.parquet(src)
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    from data_engineer_8_final_project_spark.streaming import events as ev

    out = ev.run_available_now(stream.select("event_id"), output_mode="append")
    got = sorted(r.event_id for r in out.collect())
    want = sorted(r.event_id for r in batch.select("event_id").distinct().collect())
    assert got == want


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """Crash/restart recovery: a second availableNow run against the
    same checkpoint must pick up files that arrived AFTER the first run
    — incrementally, without reprocessing the old ones — and the union
    of epochs must equal the full batch."""
    events = catalog.tables(spark, sf_dir)["events"]
    half_a = events.filter("event_id % 2 = 0")
    half_b = events.filter("event_id % 2 = 1")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half_a.coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(events.schema).parquet(src)
        ev.stream_to_parquet_exactly_once(stream, out, ckpt)

    run()
    n_first = spark.read.parquet(out).count()
    assert n_first == half_a.count()

    half_b.coalesce(1).write.mode("append").parquet(src)
    run()  # resume: only the new file is processed
    got = spark.read.parquet(out)
    assert got.count() == events.count()
    # the resumed epoch holds exactly the new rows (no rewrite of epoch 0)
    assert got.filter("_epoch > 0").count() == half_b.count()


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """Large-state lever: the RocksDB state store provider keeps
    streaming aggregation state off-heap/on-disk (the only provider
    that survives 100 TB-scale keyspaces). Same replay, same result as
    the default HDFS-backed in-memory provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    want = sorted(
        (r.window_start, r.event_type, r.n_events)
        for r in ev.streaming_hourly(spark, sf_dir).collect()
    )
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        got = sorted(
            (r.window_start, r.event_type, r.n_events)
            for r in ev.streaming_hourly(spark, sf_dir).collect()
        )
    finally:
        if saved:
            spark.conf.set(key, saved)
        else:
            spark.conf.unset(key)
    assert got == want and len(got) > 0


def test_transform_with_state_totals_match_batch(spark, sf_dir):
    """Spark 4 transformWithState (typed ValueState, RocksDB-only) must
    produce exactly the batch per-user aggregate after an availableNow
    replay — the same contract the GroupState twin is driver-gated on.
    Skips where google.protobuf is unavailable (the TWS Python worker's
    state-server protocol needs it; this container has no protobuf and
    installs are disallowed)."""
    import pytest
    from pyspark.sql import functions as F

    pytest.importorskip("google.protobuf")
    from data_engineer_8_final_project_spark.queries.streaming_q import user_totals_tws

    got = user_totals_tws(spark, sf_dir).collect()
    want = (
        catalog.tables(spark, sf_dir)["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_python_datasource_stream_producer_equals_batch(spark):
    """The producer's streaming face (SimpleDataSourceStreamReader):
    row-index offsets make every micro-batch replayable by construction
    — and draining the bounded feed must yield EXACTLY the batch-read
    rows for the same seed, proving produce-side determinism across
    both execution modes (the property the reference's declared Kafka
    producer could never test)."""
    import time

    from data_engineer_8_final_project_spark.sources import generator

    generator.register_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("maxRows", 400)
        .option("batchRows", 90)
        .option("seed", 11)
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("gen_stream_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spark.table("gen_stream_sink").count() < 400:
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    got = sorted(map(tuple, spark.table("gen_stream_sink").collect()))
    spark.catalog.dropTempView("gen_stream_sink")
    want = sorted(
        map(
            tuple,
            spark.read.format("synthetic_events")
            .option("rows", 400)
            .option("seed", 11)
            .load()
            .collect(),
        )
    )
    assert len(got) == 400 and got == want


def test_funnel_state_survives_micro_batches(spark, sf_dir):
    """The streaming funnel must genuinely accumulate across
    micro-batches: the staged replay feeds 3 time-ascending files, so
    (a) some user must emit more than once (its state carried between
    batches), and (b) some user's funnel must COMPLETE in a later
    emission than its first (a cross-batch chain, not a single-batch
    recomputation). The value-exactness against the batch funnel is
    the registered oracle's job; this pins the statefulness."""
    from data_engineer_8_final_project_spark.registry import all_queries
    from data_engineer_8_final_project_spark.queries import streaming_q  # noqa: F401
    from data_engineer_8_final_project_spark.streaming import events as ev, stateful
    import glob, os

    from data_engineer_8_final_project_spark import stage as scratch

    # run the registered query once to (re)build the stage, then replay
    # the staged files through the raw update-mode sink to inspect
    # per-batch emissions
    all_queries()["event_funnel_stream"].fn(spark, sf_dir).collect()
    stages = glob.glob(os.path.join(scratch.root(spark), "funnel_*"))
    assert stages, "staged replay dir missing"
    stage = max(stages, key=os.path.getmtime)
    n_files = len(glob.glob(os.path.join(stage, "*.parquet")))
    assert n_files == 3, f"expected 3 staged micro-batch files, found {n_files}"

    from data_engineer_8_final_project_spark.schemas import EVENTS
    events = (
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    sink = ev.run_available_now(stateful.user_funnel_stream(events), output_mode="update")
    rows = sink.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    multi = [u for u, rs in per_user.items() if len(rs) > 1]
    assert multi, "no user emitted in more than one micro-batch"
    # a user whose purchase stamp appears only in a later emission
    crossed = False
    for u in multi:
        rs = sorted(per_user[u], key=lambda r: r.n)
        if rs[0].purch_us is None and rs[-1].purch_us is not None:
            crossed = True
            break
    assert crossed, "no funnel completed across a batch boundary"


def test_funnel_exact_when_key_spans_arrow_chunks(spark, tmp_path):
    """A key's micro-batch data can arrive as several Arrow chunks; the
    update fn must sort ACROSS chunks, not per chunk (advisor finding,
    round 6 — latent while fixtures fit one chunk per key). Forced here
    with maxRecordsPerBatch=2 and an event order chosen so per-chunk
    sorting yields a different funnel: chunk1 = [click@20, purch@30]
    (no view yet -> both dropped), chunk2 = [view@10, click@15]; the
    correct global order completes the funnel (10, 15, 30)."""
    import datetime as dt

    from pyspark.sql import types as T

    from data_engineer_8_final_project_spark.streaming import events as ev, stateful

    def ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    rows = [
        (1, "click", ts(20)),
        (1, "purchase", ts(30)),
        (1, "view", ts(10)),
        (1, "click", ts(15)),
    ]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = str(tmp_path / "chunked_events")
    # one file => one micro-batch containing all four rows of the key
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(src)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        sink = ev.run_available_now(
            stateful.user_funnel_stream(stream), output_mode="update"
        )
        final = stateful.finalize_funnel(sink).collect()
    finally:
        spark.conf.set(key, saved)
    assert len(final) == 1
    r = final[0]
    assert (r.first_view_ts, r.first_click_ts, r.first_purchase_ts) == (
        ts(10),
        ts(15),
        ts(30),
    ), final


def test_watermark_drop_audit_accounts_planted_late_rows(spark, sf_dir):
    """VERDICT r10 stretch item 7: late-drop accounting on a replay
    with planted late events, cross-checked against the engine's own
    StreamingQueryProgress signals.

    Pins (at sf0.001; the oracle gate re-verifies at sf0.01 via
    test_parity):
    - sum(n_dropped_late) == the planted-set size (copies of every
      event in the first eighth of the time range) and drops occur
      ONLY in first-eighth windows;
    - progress numRowsDroppedByWatermark == the count of DISTINCT
      late windows (the metric counts post-partial-agg state rows
      arriving expired, not input rows — 1288 planted inputs collapse
      to ~90 window groups before the state store sees them);
    - the event-time watermark advanced past the fixture horizon
      (the EOS sentinel did its job).
    """
    import pyspark.sql.functions as F

    prog: list = []
    pdf = ev.watermark_drop_audit(spark, sf_dir, progress_out=prog).toPandas()

    events = catalog.tables(spark, sf_dir)["events"]
    lo_us, hi_us, n = events.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts")), F.count(F.lit(1))
    ).collect()[0]
    eighth_us = lo_us + (hi_us - lo_us) // 8
    planted = events.filter(F.unix_micros("ts") < eighth_us).count()
    assert planted > 0  # the fixture must actually plant late rows

    assert int(pdf["n_dropped_late"].sum()) == planted
    assert int(pdf["n_observed"].sum()) == n + planted
    assert (pdf["n_observed"] == pdf["n_on_time"] + pdf["n_dropped_late"]).all()
    # drops only in first-eighth windows (hour-truncated bound)
    import datetime as dt

    eighth_ts = dt.datetime.fromtimestamp(eighth_us / 1e6, dt.timezone.utc).replace(tzinfo=None)
    late_windows = pdf[pdf["n_dropped_late"] > 0]
    assert (late_windows["window_start"] <= eighth_ts).all()

    wm_dropped_state_rows = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in prog
        for op in p.get("stateOperators", [])
    )
    assert wm_dropped_state_rows == len(late_windows)
    # Parse progress watermarks to datetimes before comparing (ADVICE
    # r11): they are 'Z'-suffixed millisecond ISO strings while
    # isoformat() emits suffix-free microseconds, so a lexicographic
    # compare misorders equal timestamps ('Z' > any digit).
    final_wm = max(
        dt.datetime.fromisoformat(p["eventTime"]["watermark"].replace("Z", "+00:00"))
        for p in prog
        if p.get("eventTime", {}).get("watermark")
    ).replace(tzinfo=None)
    hi_ts = dt.datetime.fromtimestamp(hi_us / 1e6, dt.timezone.utc).replace(tzinfo=None)
    assert final_wm > hi_ts  # sentinel advanced the watermark past the horizon


def test_wmdedup_state_bounded_vs_plain_dropduplicates(spark, sf_dir):
    """The point of dropDuplicatesWithinWatermark (VERDICT r11 item 2):
    state is bounded by the watermark horizon, where plain
    dropDuplicates state grows monotonically with distinct keys.

    Runs the duplicate-delivery replay through BOTH operators and pins,
    from the StreamingQueryProgress state-rows counts:
    - plain dropDuplicates: state never shrinks and ends at one row per
      distinct (event_id, arrival) key seen — corpus-proportional;
    - withinWatermark: eviction observed (state shrinks between
      batches) and final state is strictly below the plain variant's;
    - the audit output itself: every aged-out replay (first eighth,
      shifted +7s/8) re-emitted, every within-horizon duplicate
      suppressed — totals cross-checked against the planted-set sizes.
    """
    import pyspark.sql.functions as F

    from data_engineer_8_final_project_spark.schemas import EVENTS

    prog: list = []
    pdf = ev.dedup_stream_watermarked(spark, sf_dir, progress_out=prog).toPandas()

    events = catalog.tables(spark, sf_dir)["events"]
    lo_us, hi_us, n = events.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts")), F.count(F.lit(1))
    ).collect()[0]
    s = hi_us - lo_us
    us = F.unix_micros("ts")
    n_aged_out = events.filter(us < lo_us + s // 8).count()  # re-emitted
    n_caught = events.filter(
        (us >= lo_us + 3 * s // 8) & (us < lo_us + s // 2)
    ).count()  # on-time dups, suppressed
    n_late = events.filter(
        (us >= lo_us + 2 * s // 8) & (us < lo_us + 3 * s // 8)
    ).count()  # late dups with live state, suppressed
    assert min(n_aged_out, n_caught, n_late) > 0  # every story planted

    assert int(pdf["n_arrived"].sum()) == n + n_aged_out + n_caught + n_late
    assert int(pdf["n_emitted"].sum()) == n + n_aged_out
    assert int(pdf["n_suppressed"].sum()) == n_caught + n_late
    assert (pdf["n_arrived"] == pdf["n_emitted"] + pdf["n_suppressed"]).all()

    def state_rows(progress):
        return [
            op["numRowsTotal"]
            for p in progress
            for op in p.get("stateOperators", [])
            if p["numInputRows"] > 0 or op["numRowsTotal"] > 0
        ]

    wm_rows = state_rows(prog)
    # eviction observed: state shrank between at least one batch pair
    assert any(b < a for a, b in zip(wm_rows, wm_rows[1:])), wm_rows

    # plain dropDuplicates over the SAME replay: state only grows
    stage, _delay_us = ev._stage_wmdedup_replay(spark, sf_dir)
    plain_prog: list = []
    plain = ev.run_available_now(
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .dropDuplicates(["event_id"])
        .select("event_id"),
        output_mode="append",
        progress_out=plain_prog,
    )
    assert plain.count() == n  # one emit per key, aged-out replays swallowed
    plain_rows = state_rows(plain_prog)
    assert all(b >= a for a, b in zip(plain_rows, plain_rows[1:])), plain_rows
    assert plain_rows[-1] == n  # one state row per distinct key, forever
    assert wm_rows[-1] < plain_rows[-1]  # the bound, made visible


def test_rocksdb_changelog_checkpointing_resume(spark, sf_dir, tmp_path):
    """VERDICT r11 stretch item 8: Spark 4's RocksDB changelog
    checkpointing is the production recovery path for large state —
    per-batch deltas (.changelog files) land in the checkpoint instead
    of full snapshot uploads, and restart replays snapshot + changelog.

    Replay half the events into a windowed aggregation under
    RocksDB + changelogCheckpointing with an explicit checkpoint, then
    deliver the second half and RESUME from that checkpoint: the
    resumed complete-mode emission must equal the full-data batch
    aggregate — counts covering only the second half would mean the
    changelog-recovered state was lost. Also pins that changelog files
    actually materialized (the knob engaged, not silently ignored).
    """
    import glob as _glob

    events = catalog.tables(spark, sf_dir)["events"]
    half_a = events.filter("event_id % 2 = 0")
    half_b = events.filter("event_id % 2 = 1")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    half_a.coalesce(1).write.mode("append").parquet(src)

    want = sorted(
        (r.window_start, r.event_type, r.n_events)
        for r in ev.hourly_window_agg(events).collect()
    )

    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def run(name):
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            ev.hourly_window_agg(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        run("clog_first")
        first = sorted(
            (r.window_start, r.event_type, r.n_events)
            for r in spark.sql("select * from clog_first").collect()
        )
        assert first == sorted(
            (r.window_start, r.event_type, r.n_events)
            for r in ev.hourly_window_agg(half_a).collect()
        )
        # the knob engaged: per-batch deltas exist in the state checkpoint
        changelogs = _glob.glob(os.path.join(ckpt, "state", "**", "*.changelog"),
                                recursive=True)
        assert changelogs, "changelog checkpointing enabled but no .changelog written"

        half_b.coalesce(1).write.mode("append").parquet(src)
        run("clog_resumed")  # recovery: snapshot + changelog replay
        got = sorted(
            (r.window_start, r.event_type, r.n_events)
            for r in spark.sql("select * from clog_resumed").collect()
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v else spark.conf.unset(k)
    assert got == want and len(got) > 0


def test_statestore_reader_exposes_live_aggregation_state(spark, sf_dir, tmp_path):
    """Spark 4 state data source: `spark.read.format("statestore")` over
    a checkpoint is the production tool for inspecting (and debugging)
    live streaming state without stopping the query. Pin that the state
    it exposes for the hourly windowed aggregation IS the aggregation:
    one state row per (window, event_type) carrying the running
    count/sums, exactly matching the batch groupBy over the same data —
    so state-surgery tooling built on this reader sees true values.
    """
    events = catalog.tables(spark, sf_dir)["events"]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        ev.hourly_window_agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sds_probe")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # state value struct = the agg's INTERNAL buffers in declaration
    # order: count(1), sum(value) UNROUNDED (round() applies on emit),
    # sum(k) — read positionally (the two sums share a field name).
    got = sorted(
        (r.key[0][0], r.key[1], r.value[0], round(r.value[1], 2), r.value[2])
        for r in spark.read.format("statestore").load(ckpt).collect()
    )
    want = sorted(
        (r.window_start, r.event_type, r.n_events, r.sum_value, r.sum_k)
        for r in ev.hourly_window_agg(events).collect()
    )
    assert got == want and len(got) > 0


def test_event_streams_consume_directory_shaped_sources(spark, sf_dir, tmp_path):
    """The scale harness writes events.parquet as a DIRECTORY of part
    files; a raw pathGlobFilter reader matches nothing there and
    silently replays ZERO rows. r11 fixed read_events_stream; the r12
    64x leg caught view_click_stream_join finishing in 3.5 s because it
    (and segment_enriched_stream) still built raw readers. Pin every
    event-stream consumer on a directory-shaped fixture against its
    batch equivalent — zero-row replays fail loudly here.
    """
    import shutil

    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark import stage

    events = catalog.tables(spark, sf_dir)["events"]
    d = tmp_path / "dirshaped"
    d.mkdir()
    # three TIME-SPLIT parts with increasing mtimes: a random split
    # (repartition) would make later files arrive behind the watermark
    # and the stream-stream join would drop them as late — a real
    # semantics of out-of-order replay, but not what this test pins
    # (directory-shaped sources must not silently replay zero rows).
    edir = str(d / "events.parquet")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    t1 = lo + (hi - lo) / 3
    t2 = lo + 2 * (hi - lo) / 3
    pinned: set = set()
    prev_ts_type = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        for i, cond in enumerate(
            [F.col("ts") < t1, (F.col("ts") >= t1) & (F.col("ts") < t2), F.col("ts") >= t2]
        ):
            events.filter(cond).coalesce(1).write.mode("append").parquet(edir)
            stage.pin_new_file_mtimes(edir, 1_000_000_000 + i, pinned)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev_ts_type)
    for t in catalog.TABLE_NAMES:
        if t == "events":
            continue
        src = os.path.join(sf_dir, f"{t}.parquet")
        try:
            os.link(src, str(d / f"{t}.parquet"))
        except OSError:
            shutil.copy2(src, str(d / f"{t}.parquet"))
    sf2 = str(d)

    assert ev.run_available_now(
        ev.read_events_stream(spark, sf2), output_mode="append"
    ).count() == events.count()

    got_join = ev.view_click_stream_join(spark, sf2)
    views = events.filter("event_type = 'view'").select(
        F.col("event_id").alias("v_event_id"), "user_id", F.col("ts").alias("v_ts")
    )
    clicks = events.filter("event_type = 'click'").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    want_join = views.join(
        clicks,
        (views.user_id == clicks.c_user)
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    assert got_join.count() == want_join.count() > 0

    got_seg = ev.segment_enriched_stream(spark, sf2)
    want_seg = (
        events.join(
            catalog.tables(spark, sf_dir)["customer"].select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment"
            ),
            "user_id",
        )
        .groupBy("c_mktsegment", "event_type")
        .count()
    )
    assert got_seg.count() == want_seg.count() > 0
    assert int(got_seg.agg(F.sum("n_events")).collect()[0][0]) == want_seg.agg(
        F.sum("count")
    ).collect()[0][0]


def test_spilled_drain_returns_empty_frame_on_zero_emissions(spark, sf_dir):
    """review r12: a stream that emits nothing lands no parquet files,
    and a bare read of the spill dir would raise 'Unable to infer
    schema' — the drain must return an empty frame with the stream's
    schema, matching the memory sink's graceful empty result."""
    stream = ev.read_events_stream(spark, sf_dir).filter(
        "event_type = '__no_such_type__'"
    )
    out = ev.run_available_now_spilled(stream.select("event_id", "ts"))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["event_id", "ts"]


def test_spilled_drain_reclaims_spill_root_eagerly(spark, sf_dir, monkeypatch):
    """ADVICE r12 #1: the spill root (parquet + checkpoint) must be
    removed before the drain returns — a long bench/scale session
    running many corpus-scaling drains must not accumulate temp disk
    until process exit. The read-back is localCheckpoint-ed first, so
    the returned frame survives the removal."""
    import glob

    from data_engineer_8_final_project_spark import stage

    def drains():
        return glob.glob(os.path.join(stage.root(spark), "drain_*"))

    # record the spill roots present while each stream runs, so the
    # empty-after checks below cannot pass by looking in the wrong place
    seen = []
    drive = ev._drive_available_now

    def spy(*args):
        drive(*args)
        seen.append(drains())

    monkeypatch.setattr(ev, "_drive_available_now", spy)
    stream = ev.read_events_stream(spark, sf_dir).select("event_id", "ts")
    out = ev.run_available_now_spilled(stream)
    assert len(seen) == 1 and len(seen[0]) == 1, f"drain dir not where expected: {seen}"
    assert drains() == [], f"spill roots not reclaimed: {drains()}"
    # the frame is lineage-free: still readable after its files are gone
    n = out.count()
    assert n > 0 and out.count() == n

    # the zero-emission path reclaims too
    empty = ev.run_available_now_spilled(
        ev.read_events_stream(spark, sf_dir)
        .filter("event_type = '__no_such_type__'")
        .select("event_id", "ts")
    )
    assert empty.count() == 0
    assert len(seen) == 2 and len(seen[1]) == 1
    assert drains() == []


def test_replay_files_per_trigger_law(sf_dir):
    """r13 A/B law: batch count capped at target_batches regardless of
    part-file layout; single-file fixture sources derive 1 (bit-
    identical replay to the old hardcoded maxFilesPerTrigger=1)."""
    import os

    # the fixture's events.parquet is a single file -> 1
    assert ev.replay_files_per_trigger(os.path.join(sf_dir, "events.parquet")) == 1

    # synthetic file counts via a temp dir of empty parquet names
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        for i in range(32):
            open(os.path.join(d, f"part-{i:05d}.parquet"), "w").close()
        assert ev.replay_files_per_trigger(d) == 8  # 32 files / 4 batches
        assert ev.replay_files_per_trigger(d, target_batches=1) == 32
        assert ev.replay_files_per_trigger(d, target_batches=32) == 1
    with tempfile.TemporaryDirectory() as d:
        for i in range(5):
            open(os.path.join(d, f"part-{i:05d}.parquet"), "w").close()
        assert ev.replay_files_per_trigger(d) == 2  # ceil(5/4)


def test_chunk_count_never_changes_stream_results(spark, sf_dir):
    """r14 (VERDICT r13 item 4): the time-ordered staging's chunk count
    is a COST knob, never a semantics knob — the batch-count A/B's
    validity rests on this invariance, measured at 64x (hashes equal at
    32 vs 4 chunks) and pinned here at smoke scale against the shipped
    defaults. Chunks are disjoint ascending time ranges, so no row is
    ever late regardless of count."""
    from data_engineer_8_final_project_spark.streaming import events as ev

    base = {
        tuple(r)
        for r in ev.session_window_stream(spark, sf_dir)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    alt = {
        tuple(r)
        for r in ev.session_window_stream(spark, sf_dir, n_chunks=5)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    assert base == alt and base

    jbase = {
        tuple(r) for r in ev.view_click_stream_join(spark, sf_dir).collect()
    }
    jalt = {
        tuple(r)
        for r in ev.view_click_stream_join(spark, sf_dir, n_chunks=2).collect()
    }
    assert jbase == jalt
