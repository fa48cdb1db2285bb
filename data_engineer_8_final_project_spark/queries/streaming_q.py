"""Streaming-leg query registrations (SURVEY.md §2.9 T1-T3).

``events_hourly`` is the batch form of the windowed aggregation;
``events_hourly_stream`` replays the same fixture through Structured
Streaming (availableNow, complete mode) and must produce the identical
table — both share one DuckDB oracle, making the streaming path fully
correctness-gated rather than rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..operators.funnel import batch_funnel
from ..registry import register
from ..stage import replay
from ..streaming import events as ev
from .flagship import STANDINGS_ORACLE

HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@register(
    "events_hourly",
    oracle=HOURLY_ORACLE,
    survey_ref="§2.9 T3 (windowed agg, batch form — oracle for the stream)",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return ev.hourly_window_agg(t["events"]).orderBy("window_start", "event_type")


@register(
    "events_hourly_stream",
    oracle=HOURLY_ORACLE,
    survey_ref="§2.9 T1-T3 (Structured Streaming replay, availableNow)",
)
def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.streaming_hourly(spark, sf_dir)


#: Batch equivalent of the stateful running totals — the shared oracle.
#: sum_value accumulates as integer cents on both sides (see
#: streaming/stateful.py determinism contract) so micro-batch float
#: order can never drift the hash.
USER_TOTALS_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "user_totals_stateful",
    oracle=USER_TOTALS_ORACLE,
    survey_ref="§2.9 T3 extended: custom stateful operator (applyInPandasWithState)",
)
def q_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import stateful

    src = os.path.join(sf_dir, "events.parquet")
    # Python-worker-bound: wall is ~linear in batch count (r13 A/B:
    # 360 s -> 55 s at 64x going 32 -> 4 batches, hash unchanged), so
    # the batch count comes from the replay law, not the file layout.
    stream = stateful.user_running_totals(
        ev.read_events_stream(
            spark, sf_dir, max_files_per_trigger=ev.replay_files_per_trigger(src)
        )
    )
    # per-USER GroupState scales with the corpus — size the state width
    width = ev.state_width_for(src)
    # spilled drain: update-mode emissions = users x batches — corpus-
    # scaling (r12 memory-sink liability sweep)
    sink = ev.run_available_now_spilled(stream, output_mode="update", state_partitions=width)
    return stateful.finalize_totals(sink).orderBy("user_id")


@register(
    "standings_stream",
    oracle=STANDINGS_ORACLE,
    survey_ref="§2.9 T1-T3 + §2.4 A3 (streaming flagship: running standings, update mode)",
)
def q_standings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running league standings over a multi-batch match replay —
    the SURVEY §7 phase-5 streaming flagship.

    The lineitem fixture is re-chunked into 4 parquet files and
    replayed one file per micro-batch, so the pair-level rollup
    (operators/standings.py pair_rollup — a streaming stateful
    aggregation whose state is one fixed-width row per nation pair)
    genuinely accumulates across batches; update mode emits each
    pair's running row every batch it changes. After the replay
    drains, the LAST emission per pair (max n — n strictly grows per
    emission) is the complete pair aggregate, and the batch finalizer
    (standings_from_pairs: legs → club rollup → rank) produces the
    table the batch flagship oracle verifies.

    Scale shape: the stream side shuffles only into ≤ nation² state
    rows; the static dims join before the aggregation, so per-batch
    work is one scan + bounded state updates — running standings over
    an unbounded match feed at any scale.
    """
    from pyspark.sql import Window

    from ..operators.standings import matches, pair_rollup, standings_from_pairs
    from ..schemas import LINEITEM

    t = catalog.tables(spark, sf_dir)
    # any 4-way split: the last emission per pair is the full aggregate
    part = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(4))
    chunked, _ = replay(
        spark,
        "li_stream",
        os.path.join(sf_dir, "lineitem.parquet"),
        (),
        lambda: ([t["lineitem"].filter(part == i) for i in range(4)], None),
    )

    li_stream = (
        spark.readStream.schema(LINEITEM).option("maxFilesPerTrigger", 1).parquet(chunked)
    )
    m = matches(li_stream, t["orders"], t["customer"], t["supplier"], t["nation"])
    sink = ev.run_available_now(pair_rollup(m), output_mode="update")

    last = Window.partitionBy("home_key", "away_key").orderBy(F.desc("n"))
    final_pairs = (
        sink.withColumn("rn", F.row_number().over(last)).filter(F.col("rn") == 1).drop("rn")
    )
    return standings_from_pairs(final_pairs, t["nation"], t["region"])


@register(
    "event_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    )
    SELECT user_id,
           CAST(session_no AS BIGINT) AS session_no,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
    FROM s
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
    survey_ref="extended: gap-based sessionization (window lag + running sum)",
    tags=("bench",),
)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization (operators/sessions.py): lag over
    (user, time) marks session starts, a running sum numbers them, one
    aggregation rolls sessions up — a single user_id shuffle shared by
    window and rollup; value totals in integer cents (float-order-proof,
    same contract as user_totals_stateful)."""
    from ..operators.sessions import sessionize

    t = catalog.tables(spark, sf_dir)
    return sessionize(t["events"], gap_minutes=30).orderBy("user_id", "session_no")


#: Sliding 1h/30m windows: each event belongs to exactly two 30-minute-
#: aligned windows — the oracle materializes that duplication with a
#: two-branch UNION ALL over time_bucket.
SLIDING_ORACLE = """
WITH w AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type, value
  FROM events
)
SELECT ws AS window_start, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM w
GROUP BY ws, event_type
ORDER BY window_start, event_type
"""


@register(
    "events_sliding",
    oracle=SLIDING_ORACLE,
    survey_ref="§2.9 T3 widening: sliding event-time windows (batch form)",
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return ev.sliding_window_agg(t["events"]).orderBy("window_start", "event_type")


@register(
    "events_sliding_stream",
    oracle=SLIDING_ORACLE,
    survey_ref="§2.9 T1-T3 widening: sliding windows over the streaming replay",
)
def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = ev.sliding_window_agg(ev.read_events_stream(spark, sf_dir))
    return ev.run_available_now(agg).orderBy("window_start", "event_type")


@register(
    "clicks_last_error",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           e.ts AS last_error_ts, e.event_id AS error_event_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND e.ts <= c.ts
    ORDER BY c.event_id
    """,
    survey_ref="extended: as-of backward join (operator Spark lacks natively)",
    tags=("bench",),
)
def q_clicks_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error attribution: each click paired with the same user's most
    recent at-or-before error event — DuckDB's native ASOF LEFT JOIN is
    the oracle for the union+running-window formulation."""
    from ..operators.asof import asof_backward_join

    t = catalog.tables(spark, sf_dir)
    ev_t = t["events"]
    clicks = ev_t.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev_t.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    joined = asof_backward_join(
        clicks, errors, key="user_id", ts="ts", order_col="event_id"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("asof_ts").alias("last_error_ts"),
        F.col("asof_event_id").alias("error_event_id"),
    ).orderBy("event_id")


@register(
    "purchases_in_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    ),
    sessions AS (
      SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM s GROUP BY user_id, session_no
    )
    SELECT p.event_id, p.user_id, p.ts, se.session_no,
           se.session_start, se.session_end
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN sessions se
      ON p.user_id = se.user_id
     AND p.ts >= se.session_start AND p.ts <= se.session_end
    ORDER BY p.event_id, se.session_no
    """,
    survey_ref="extended: bucketed range join (point-in-interval, scale path)",
)
def q_purchases_in_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign purchase events to the session interval containing them —
    a point-in-interval range join done the scale way: bucketize time
    into 30-minute steps, explode intervals over overlapped buckets,
    equi-join on (user, bucket), filter exact containment. A point has
    one bucket, so no dedup; the oracle is the naive BETWEEN theta join."""
    from ..operators.sessions import bucketed_range_join, sessionize

    t = catalog.tables(spark, sf_dir)
    purchases = t["events"].filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    sessions = sessionize(t["events"], gap_minutes=30).select(
        "user_id", "session_no", "session_start", "session_end"
    )
    return (
        bucketed_range_join(
            purchases, sessions,
            key="user_id", ts="ts", start="session_start", end="session_end",
            step_minutes=30,
        )
        .select("event_id", "user_id", "ts", "session_no", "session_start", "session_end")
        .orderBy("event_id", "session_no")
    )


@register(
    "events_time_rollup",
    oracle="""
    SELECT COALESCE(CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR), 'ALL') AS day,
           CASE WHEN GROUPING(hour(ts)) = 0 THEN CAST(hour(ts) AS BIGINT) ELSE -1 END AS hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP(CAST(date_trunc('day', ts) AS DATE), hour(ts)), event_type
    ORDER BY day, hour, event_type
    """,
    survey_ref="extended: hypertable-style time-hierarchy rollup (day→hour continuous agg)",
)
def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate shape: one pass produces hourly leaves AND
    daily (and grand-total) rollups via grouping sets — the batch
    analogue of a hypertable's hierarchical materialized aggregates.
    GROUPING() disambiguates rolled-up NULLs from data NULLs."""
    t = catalog.tables(spark, sf_dir)
    # partial rollup (plain event_type × ROLLUP(day, hour)) is SQL-only
    # surface — spark.sql IS the engine's other first-class API
    # day/hour NULL markers become 'ALL'/-1 sentinels: a NULL-bearing
    # DATE column coerces to datetime64/NaT on the DuckDB side but
    # object/None on the Spark side, and their str() forms diverge in
    # the hash compare
    return spark.sql(
        """
        SELECT COALESCE(CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING), 'ALL') AS day,
               CASE WHEN grouping(hour(ts)) = 0 THEN CAST(hour(ts) AS BIGINT) ELSE -1 END AS hour,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM {events}
        GROUP BY event_type, ROLLUP(CAST(date_trunc('day', ts) AS DATE), hour(ts))
        ORDER BY day, hour, event_type
        """,
        events=t["events"],
    )


@register(
    "events_session_stream",
    oracle="""
    -- Batch replay of native streaming session windows (30-min gap,
    -- per user). Boundary convention matches Spark's session_window: a
    -- gap of EXACTLY 30 minutes starts a new session (event lands on
    -- the half-open [start, end) edge). Money in integer cents so the
    -- nondeterministic streaming merge order cannot drift the sum.
    WITH m AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    survey_ref="§2.9 T3 widening: native session_window streaming with EOS flush",
    tags=("bench",),
)
def q_events_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via Spark's NATIVE session_window in a streaming
    aggregation (vs event_sessions' hand-built batch lag/running-sum
    formulation) — drained with an end-of-stream sentinel so append
    mode flushes every session (streaming/events.py:session_window_stream)."""
    return ev.session_window_stream(spark, sf_dir).orderBy("user_id", "session_start")


@register(
    "view_click_stream_join",
    oracle="""
    -- Batch replay of the streaming view->click attribution join:
    -- click strictly after the view, within 10 minutes, same user.
    SELECT v.event_id AS v_event_id, c.event_id AS c_event_id,
           v.user_id, v.ts AS v_ts, c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
    ORDER BY v_event_id, c_event_id
    """,
    survey_ref="§2.9 T3 widening: stream-stream inner join (bounded state)",
)
def q_view_click_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join with an event-time range bound —
    the state-eviction contract Spark requires for unbounded feeds
    (streaming/events.py:view_click_stream_join)."""
    return ev.view_click_stream_join(spark, sf_dir).orderBy("v_event_id", "c_event_id")


@register(
    "latest_event_snapshot",
    oracle="""
    -- CDC / SCD-type-1 compaction: latest-record-wins snapshot of the
    -- event feed keyed by (user_id, event_type), tiebroken by event_id
    -- so the result is deterministic under equal timestamps.
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) t
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    survey_ref="§2.5 widening: CDC latest-wins compaction (changelog -> snapshot)",
)
def q_latest_event_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction as one row_number window — the upsert-merge
    a mutable-table sink would do, expressed over the immutable log. At
    scale this is the standard pre-merge step for a 100 TB CDC mirror:
    one shuffle on the primary key, map-side nothing, and the window
    never materializes more than a partition's rows."""
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    )


@register(
    "events_by_segment_stream",
    oracle="""
    -- Batch replay of the stream-static enrichment join + aggregation.
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment, e.event_type
    ORDER BY c.c_mktsegment, e.event_type
    """,
    survey_ref="§2.9 T3 widening: stream-static enrichment join",
)
def q_events_by_segment_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (dim broadcast per micro-batch, no stream
    shuffle for the enrichment) feeding a streaming aggregation
    (streaming/events.py:segment_enriched_stream)."""
    return ev.segment_enriched_stream(spark, sf_dir).orderBy("c_mktsegment", "event_type")


@register(
    "events_hourly_gapfill",
    oracle="""
    -- Time-series gap filling (the hypertable time_bucket_gapfill
    -- analog): every hour in each type's observed range appears, empty
    -- hours as zero.
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi FROM h GROUP BY 1),
    grid AS (
      SELECT event_type, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    )
    SELECT g.event_type, g.hr, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN h USING (event_type, hr)
    ORDER BY g.event_type, g.hr
    """,
    survey_ref="§2.9 widening: time-series gap fill (dense hourly grid)",
)
def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time grid via sequence()+explode per group — the grid is
    generated from each type's own (min, max) bounds, so its size is
    hours-of-history x types regardless of event volume; the left join
    back to the sparse rollup shuffles only the tiny grid and the
    already-aggregated hours, never raw events."""
    t = catalog.tables(spark, sf_dir)
    h = (
        t["events"]
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = (
        h.groupBy("event_type")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hr"),
        )
    )
    return (
        grid.join(h, ["event_type", "hr"], "left")
        .select("event_type", "hr", F.coalesce("n", F.lit(0)).cast("long").alias("n_events"))
        .orderBy("event_type", "hr")
    )


@register(
    "events_trailing_hour_window",
    oracle="""
    -- Event-time RANGE frame: per event, totals over the trailing hour
    -- of its own type (integer cents — frame membership is identical
    -- on both sides, so sums are exact). Sampled AFTER the window so
    -- every frame still sees the full feed.
    SELECT * FROM (
      SELECT event_id, event_type, ts,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS trail_cents,
             CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ) t
    WHERE event_id % 20 = 0
    ORDER BY event_id
    """,
    survey_ref="§2.5/§2.9 widening: event-time RANGE window frame",
)
def q_events_trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval frames are the window form Spark evaluates with a
    single sort per partition and a sliding frame pointer — no
    self-join, no per-row scan. The event_id sample sits ABOVE the
    window (a non-partition-key filter never pushes below it), bounding
    driver-compare volume without changing any frame."""
    t = catalog.tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT event_id, event_type, ts,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
                   AS trail_cents,
                 CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
          FROM {events}
          WINDOW w AS (PARTITION BY event_type ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ) t
        WHERE event_id % 20 = 0
        ORDER BY event_id
        """,
        events=t["events"],
    )


@register(
    "events_winsorized_stats",
    oracle="""
    -- Outlier gate: winsorize event values at the exact p01/p99 per
    -- type, then re-aggregate. Exact quantiles keep the clip
    -- thresholds bit-identical on both sides; cents keep sums exact.
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(SUM(CAST(round(
             GREATEST(b.lo, LEAST(b.hi, e.value)) * 100) AS BIGINT)) AS BIGINT)
             AS clipped_cents
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    survey_ref="extended: quantile winsorization (outlier clipping gate)",
)
def q_events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data outlier gate: per-group exact percentile
    bounds (one shuffle on the group key), broadcast back (bounded by
    group cardinality), clip with greatest/least — no row leaves the
    JVM. At 100 TB swap the exact percentile for percentile_approx and
    the join shape is unchanged (the approx variant's error bound is
    gated in tests/test_approx.py)."""
    t = catalog.tables(spark, sf_dir)
    bounds = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.01)").alias("lo"),
            F.expr("percentile(value, 0.99)").alias("hi"),
        )
    )
    clipped = F.greatest("lo", F.least("hi", F.col("value")))
    return (
        t["events"]
        .join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
                .otherwise(0)
            ).alias("n_clipped"),
            F.sum(F.round(clipped * 100).cast("long")).alias("clipped_cents"),
        )
        .orderBy("event_type")
    )


def user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via the Spark 4 transformWithState API —
    the modern twin of ``user_totals_stateful`` (same replay, same
    oracle shape, typed ValueState instead of legacy GroupState).

    NOT driver-registered: the transformWithState Python worker
    requires ``google.protobuf`` for its state-server protocol, and
    protobuf is absent from this container (no installs allowed) — the
    same environment-blocked class as the live Kafka broker. The code
    path is real and is correctness-gated by
    tests/test_streaming.py::test_transform_with_state_totals_match_batch,
    which runs wherever protobuf exists.

    transformWithState only runs on the RocksDB state store provider,
    so the query pins it for the duration of the stream and restores
    the session's provider after — per-query state-backend selection,
    which is exactly how a mixed workload would run it in production.
    """
    from ..streaming import stateful

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        # same replay-batch law as q_user_totals_stateful: the twin is
        # equally Python-worker-bound per touched key per batch
        stream = stateful.user_running_totals_tws(
            ev.read_events_stream(
                spark,
                sf_dir,
                max_files_per_trigger=ev.replay_files_per_trigger(
                    os.path.join(sf_dir, "events.parquet")
                ),
            )
        )
        width = ev.state_width_for(os.path.join(sf_dir, "events.parquet"))
        sink = ev.run_available_now_spilled(stream, output_mode="update", state_partitions=width)
    finally:
        if saved:
            spark.conf.set(key, saved)
        else:
            spark.conf.unset(key)
    return stateful.finalize_totals(sink).orderBy("user_id")


EVENT_FUNNEL_ORACLE = """
    -- Ordered conversion funnel view -> click -> purchase: each stage's
    -- timestamp is the FIRST qualifying event STRICTLY AFTER the prior
    -- stage (min-chaining — the order constraint is what separates a
    -- funnel from three independent mins). funnel_stage = deepest
    -- stage reached. Event timestamps are unique microseconds, so
    -- every min and every strict comparison is deterministic.
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS first_click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.first_view_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.first_click_ts
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.first_view_ts, c.first_click_ts, p.first_purchase_ts,
           CAST(1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT
                AS BIGINT) AS funnel_stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
            LEFT JOIN p ON v.user_id = p.user_id
    ORDER BY v.user_id
    """


@register(
    "event_funnel",
    oracle=EVENT_FUNNEL_ORACLE,
    survey_ref="extended: ordered conversion funnel (min-chained stages)",
    tags=("bench",),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel with the order constraint: each
    stage is the first qualifying event strictly after the previous
    stage (operators/funnel.batch_funnel). Three user-keyed
    min-aggregations chained by two equi-joins — every shuffle is on
    user_id (one co-partitioned key end to end, so AQE can reuse the
    exchange), aggregates collapse before each join, and nothing is
    windowed. At 100 TB this is the textbook shape: per-stage frames
    shrink monotonically (stage n+1 scans only stage-n completers).
    This batch plan is what operators/funnel.funnel dispatches every
    BOUNDED input to (0.74x wall at 64x events, vs ≈9x for the
    GroupState twin)."""
    t = catalog.tables(spark, sf_dir)
    return batch_funnel(t["events"]).orderBy("user_id")


@register(
    "retention_cohorts",
    oracle="""
    -- Weekly cohort retention: cohort = Monday-truncated week of the
    -- user's first event; one row per (cohort_week, week_offset) with
    -- the distinct users active that week. Both engines truncate weeks
    -- to Monday, so the day difference is an exact multiple of 7.
    WITH first_week AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.activity_week) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM first_week f JOIN active a ON f.user_id = a.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    survey_ref="extended: weekly cohort retention matrix",
    tags=("bench",),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: user's first-event week × active weeks.
    Two user-keyed aggregations (min, distinct-week) joined on user_id,
    then one tiny (cohort, offset) rollup — the distinct collapses the
    event stream to |users|·|weeks| rows before the join, and every
    shuffle key is uniform. count(*) after the distinct equals
    COUNT(DISTINCT user) per cell with no second distinct pass."""
    t = catalog.tables(spark, sf_dir)
    e = t["events"].select("user_id", "ts")
    first_week = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        first_week.join(active, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "session_path_topk",
    oracle="""
    -- Top session paths: the ordered event-type sequence of each
    -- 30-minute-gap session, counted across sessions. The same
    -- lag/running-sum sessionization as event_sessions; the path is an
    -- ORDER BY-qualified string_agg, so every aggregation order is
    -- pinned by the unique (ts, event_id) key.
    WITH numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
      FROM (
        SELECT user_id, ts, event_id, event_type,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_us
        FROM events) t
    ),
    paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM numbered
      GROUP BY user_id, session_no
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 10
    """,
    survey_ref="extended: session path mining (ordered event-type sequences)",
    tags=("bench",),
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common session event-type paths. Sessionization shares
    operators/sessions.assign_sessions (one user_id shuffle); the path
    string is built by sorting the collected (ts, event_id, type)
    structs INSIDE the row (array_sort on the unique ts key — no
    collect_list order dependence) and projecting the types. Path
    cardinality is bounded by session count; the final count is a
    uniform-key aggregate with a top-k TakeOrdered."""
    from ..operators import sessions

    t = catalog.tables(spark, sf_dir)
    numbered = sessions.assign_sessions(
        t["events"].select("user_id", "event_id", "ts", "event_type")
    )
    paths = numbered.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


#: Fixed-lag EWMA: alpha·(1−alpha)^i weights over the 8 most recent
#: events. Truncating the recurrence to a literal 8-term window makes
#: the smoother a PURE EXPRESSION — no sequential state, no float sum
#: riding a shuffle — and renormalizing by the weights actually present
#: handles short histories exactly. The expression string is shared
#: VERBATIM by Spark `F.expr` and the DuckDB oracle, so the doubles are
#: bit-identical (same IEEE tree, correctly-rounded ops). alpha is
#: deliberately an exact binary fraction (1/4): every weight
#: 3^i/4^(i+1) and every subset-sum of weights is exactly representable
#: in both double and decimal — so even though Spark parses the bare
#: literals as DECIMAL and DuckDB as DOUBLE, both sides hold the
#: identical exact value at every step (verified by the strict hash at
#: both SFs).
_EWMA_ALPHA = 0.25
_EWMA_LAGS = 8


def _ewma_expr() -> str:
    ow = "PARTITION BY user_id ORDER BY ts, event_id"
    num, den = [], []
    for i in range(_EWMA_LAGS):
        w = repr(_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i)
        v = f"LAG(value, {i}) OVER ({ow})" if i else "value"
        num.append(f"(CASE WHEN {v} IS NOT NULL THEN {w} * {v} ELSE 0.0 END)")
        den.append(f"(CASE WHEN {v} IS NOT NULL THEN {w} ELSE 0.0 END)")
    return f"ROUND(({' + '.join(num)}) / ({' + '.join(den)}), 4) + 0.0"


@register(
    "value_outliers_mad",
    oracle="""
    -- Robust per-type outlier screen: median / MAD via EXPLICIT rank
    -- selection (engine quantile interpolation formulas differ in the
    -- last ulp), outliers = |v - med| > 4.4478 * MAD (~3 sigma).
    WITH e AS (SELECT event_type, event_id, value FROM events),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e),
    med AS (
      SELECT event_type, AVG(value) AS med
      FROM ranked
      WHERE rn = CAST(FLOOR((n+1)/2) AS BIGINT)
         OR rn = CAST(FLOOR((n+2)/2) AS BIGINT)
      GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.event_id, ABS(e.value - m.med) AS ad, m.med
      FROM e JOIN med m USING (event_type)),
    dranked AS (
      SELECT event_type, ad,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ad, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev),
    mad AS (
      SELECT event_type, AVG(ad) AS mad
      FROM dranked
      WHERE rn = CAST(FLOOR((n+1)/2) AS BIGINT)
         OR rn = CAST(FLOOR((n+2)/2) AS BIGINT)
      GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MIN(d.med), 4) + 0.0 AS med,
           ROUND(MIN(m.mad), 4) + 0.0 AS mad,
           CAST(SUM(CASE WHEN d.ad > 4.4478 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    survey_ref="extended: robust MAD outlier screen (rank-exact medians)",
    tags=("bench",),
)
def q_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier screen: median, MAD, and the
    count beyond 4.4478·MAD (operators/profiling.mad_outlier_stats).
    Medians are explicit rank selections (bit-portable, unlike
    interpolating quantile functions); the two tiny per-type stats
    frames broadcast back onto the scan. The documented 100 TB swap is
    approx_percentile per type — the exact rank form is registered
    because the oracle replays it value-for-value."""
    from ..operators.profiling import mad_outlier_stats

    t = catalog.tables(spark, sf_dir)
    return mad_outlier_stats(t["events"])


@register(
    "ewma_user_value",
    oracle=f"""
    -- Per-event trailing EWMA feature (8-lag truncation, alpha=0.25):
    -- the identical expression string the Spark side runs via F.expr.
    SELECT event_id, user_id, {_ewma_expr()} AS ewma_value
    FROM events ORDER BY event_id
    """,
    survey_ref="extended: fixed-lag EWMA time-series feature (shared-expression determinism)",
    tags=("bench",),
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing EWMA of the user's last 8 event values — the
    feature-engineering primitive behind burst/decay signals. The
    8-lag truncated form turns the sequential recurrence into a pure
    windowed expression: ONE user_id shuffle, 8 LAGs over one shared
    window spec (computed in a single Window physical node), weights as
    literals in fixed order — width-invariant doubles, oracle-exact.
    At 100 TB the alternative (true infinite-horizon EWMA) needs an
    ordered per-key scan (applyInPandas or transformWithState); the
    truncated form is the shuffle-friendly default with error bounded
    by (1-alpha)^8 ≈ 0.1 of weight mass."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["events"]
        .select("event_id", "user_id", F.expr(_ewma_expr()).alias("ewma_value"))
        .orderBy("event_id")
    )


@register(
    "attribution_last_touch",
    oracle="""
    -- Last-touch marketing attribution: every purchase credits the
    -- most recent prior view/click/signup by the same user within a
    -- 24 h lookback, else the 'direct' bucket. Revenue sums ride as
    -- exact integer cents so no float sum crosses a shuffle.
    WITH base AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type IN ('view','click','signup')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt_type,
             last_value(CASE WHEN event_type IN ('view','click','signup')
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt_us
      FROM events),
    p AS (
      SELECT CASE WHEN lt_us IS NOT NULL
                       AND epoch_us(ts) - lt_us <= 86400000000
                  THEN lt_type ELSE 'direct' END AS channel,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM base WHERE event_type = 'purchase')
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(cents) AS BIGINT) / 100.0, 2) + 0.0
             AS attributed_revenue
    FROM p GROUP BY channel ORDER BY channel
    """,
    survey_ref="extended: last-touch attribution (lookback-bounded carry-forward window)",
    tags=("bench",),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase credits
    the user's most recent prior touch event (view/click/signup)
    within a 24 h lookback; purchases with no in-window touch land in
    'direct'. ONE user-keyed window pass (carry-forward `last` with
    ignorenulls over rows-preceding frame, (ts, event_id) tiebreak —
    deterministic on any width) + a tiny channel rollup. Revenue is
    summed as exact integer cents, so the double is computed once from
    an exact BIGINT — no float reduction rides the shuffle. At 100 TB:
    one shuffle on user_id, then a |channels|-row aggregate.
    Logic: operators/funnel.last_touch_attribution."""
    from ..operators.funnel import last_touch_attribution

    t = catalog.tables(spark, sf_dir)
    return last_touch_attribution(t["events"])


@register(
    "event_funnel_stream",
    oracle=EVENT_FUNNEL_ORACLE,
    survey_ref="§2.9 T3 extended: stateful streaming funnel (GroupState min-chaining)",
)
def q_event_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_funnel: per-user funnel state
    (streaming/stateful.user_funnel_stream) over a time-ordered
    multi-batch replay, verified against the SAME batch oracle.

    The greedy state update is exact only under event-time-ordered
    arrival, so the fixture is staged into 3 ascending time ranges
    with pinned strictly-increasing mtimes (the session-stream replay
    pattern — the file source feeds micro-batches in mtime order) and
    each batch is sorted inside the update function. State = one
    4-long row per user; update-mode emissions finalize to the batch
    shape by last-emission-per-user.

    This query PINS the streaming arm on purpose — its driver row is
    the evidence the GroupState path works. It is not the plan a
    bounded replay should get: ``operators/funnel.funnel`` is the
    planner-level dispatch (bounded → batch min-chaining at 0.74x of
    64x; streaming frame → this stateful twin), and production callers
    go through it."""
    import datetime as dt

    from ..catalog import _assert_events_ts_format
    from ..schemas import EVENTS
    from ..streaming import stateful

    src = os.path.join(sf_dir, "events.parquet")
    _assert_events_ts_format(src)

    def chunks():
        batch = spark.read.schema(EVENTS).parquet(src)
        lo, hi = batch.agg(F.min("ts"), F.max("ts")).collect()[0]  # bounded: two scalars
        cuts = [lo + (hi - lo) * i // 3 for i in range(4)]
        cuts[-1] = hi + dt.timedelta(microseconds=1)
        return [
            batch.filter((F.col("ts") >= cuts[i]) & (F.col("ts") < cuts[i + 1]))
            for i in range(3)
        ], None

    stage, _ = replay(spark, "funnel", src, (), chunks)
    events = (
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    # Per-USER GroupState scales with the keyspace — size the state
    # width from source volume (ev.state_width_for documents the cost
    # law; the r6 scale run's 64x wall was 8-wide-bound at 29.6x).
    # spilled drain: update-mode emissions scale with users x batches
    sink = ev.run_available_now_spilled(
        stateful.user_funnel_stream(events),
        output_mode="update",
        state_partitions=ev.state_width_for(src),
    )
    return stateful.finalize_funnel(sink).orderBy("user_id")


@register(
    "scd2_event_history",
    oracle="""
    -- Slowly-changing-dimension type 2 from the event stream: each
    -- (user, event_type) change becomes a validity interval
    -- [valid_from, valid_to), open-ended for the current row — the
    -- warehouse-history twin of latest_event_snapshot (SCD1). The
    -- unique (ts, event_id) key makes LEAD deterministic.
    SELECT user_id, event_type, value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM events
    ORDER BY user_id, event_type, valid_from
    """,
    survey_ref="extended: SCD2 history build (validity intervals via LEAD)",
    tags=("bench",),
)
def q_scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history: one LEAD window per (user, event_type) —
    a single composite-key shuffle shared by both LEAD calls and the
    is_current derivation; at 100 TB this is the standard
    one-pass history build (no self-join, no sort but the window's).
    The SCD1 compaction (latest_event_snapshot) is this table filtered
    to is_current."""
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        t["events"]
        .select(
            "user_id",
            "event_type",
            "value",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("user_id", "event_type", "valid_from")
    )


@register(
    "value_histogram",
    oracle="""
    -- Fixed-width histogram of event values per type: 10 buckets over
    -- the [0, 500) domain plus underflow bucket 0 / overflow bucket 11
    -- (width_bucket semantics spelled as portable arithmetic — DuckDB
    -- has no width_bucket). Bucket bounds are CONSTANTS (the scale-out
    -- contract: a data-dependent min/max would serialize a pre-pass).
    SELECT event_type,
           CAST(CASE WHEN value < 0 THEN 0
                     WHEN value >= 500 THEN 11
                     ELSE 1 + FLOOR(value / 50.0) END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, bucket
    """,
    survey_ref="extended: fixed-width histogram (width_bucket analytics)",
    tags=("bench",),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value histogram over constant bucket bounds — one
    map-side-combining aggregation (≤ types × 12 groups), no
    data-dependent pre-pass. The profile shape every DQ/drift monitor
    computes."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            "event_type",
            F.expr(
                "CAST(CASE WHEN value < 0 THEN 0 "
                "WHEN value >= 500 THEN 11 "
                "ELSE 1 + FLOOR(value / 50.0D) END AS BIGINT)"
            ).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


#: Fixed literal type order for the drift query — the KL sum is five
#: terms added LEFT-TO-RIGHT in this exact order on both engines, so
#: the float result is bit-identical (a groupBy-sum over types would
#: add in partition order and drift the last bits).
_DRIFT_TYPES = ("click", "error", "purchase", "signup", "view")


def _drift_kl_sql() -> str:
    """The add-one-smoothed KL(p_day || p_prev) expression over the
    fixed type columns c0..c4 / pc0..pc4 and totals n / pn. ONE string,
    used verbatim by the Spark `expr` and the DuckDB oracle — the
    formula cannot diverge between engines."""
    terms = [
        f"((c{i}+1)/(n+5)) * ln(((c{i}+1)/(n+5)) / ((pc{i}+1)/(pn+5)))"
        for i in range(len(_DRIFT_TYPES))
    ]
    return " + ".join(terms)


@register(
    "event_type_drift",
    oracle=f"""
    -- Day-over-day distribution drift of the event-type mix: add-one
    -- smoothed KL(p_day || p_prev) over the FIXED literal type order
    -- (click,error,purchase,signup,view) — the ingest-monitoring gate
    -- that catches an upstream producer silently changing its mix.
    WITH d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i}" for i, t in enumerate(_DRIFT_TYPES))}
      FROM events GROUP BY 1
    ),
    l AS (
      SELECT day, n, {", ".join(f"c{i}" for i in range(5))},
             LAG(n) OVER (ORDER BY day) AS pn,
             {", ".join(f"LAG(c{i}) OVER (ORDER BY day) AS pc{i}" for i in range(5))}
      FROM d
    )
    SELECT day, n_events, kl_prev FROM (
      SELECT day, n AS n_events,
             ROUND({_drift_kl_sql()}, 6) + 0.0 AS kl_prev, pn
      FROM l) t
    WHERE pn IS NOT NULL
    ORDER BY day
    """,
    survey_ref="extended: day-over-day event-mix drift monitor (smoothed KL divergence)",
)
def q_event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: each day's event-type mix vs the
    previous day's as add-one-smoothed KL divergence. Scale shape: one
    map-side-combining aggregation collapses the stream to |days| rows
    of fixed type-count columns (conditional sums over a LITERAL type
    list — no pivot pre-pass, no data-dependent schema), then the lag +
    KL arithmetic runs on that metadata-sized frame under a
    constant-partition window. The KL sum is five terms in fixed
    left-to-right order — bit-identical on any engine, any width."""
    from ..operators.sampling import tiny_global_window

    t = catalog.tables(spark, sf_dir)
    d = (
        t["events"]
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("event_type") == ty).cast("long")).alias(f"c{i}")
                for i, ty in enumerate(_DRIFT_TYPES)
            ],
        )
    )
    w = tiny_global_window(F.col("n")).orderBy("day")
    lagged = d.select(
        "day",
        "n",
        *[F.col(f"c{i}") for i in range(5)],
        F.lag("n").over(w).alias("pn"),
        *[F.lag(f"c{i}").over(w).alias(f"pc{i}") for i in range(5)],
    )
    return (
        lagged.filter(F.col("pn").isNotNull())
        .select(
            "day",
            F.col("n").alias("n_events"),
            (F.round(F.expr(_drift_kl_sql()), 6) + F.lit(0.0)).alias("kl_prev"),
        )
        .orderBy("day")
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    -- Point-in-time-correct feature join (the feature-store shape):
    -- each purchase event is enriched with the view-state the user
    -- held AT PURCHASE TIME — the half-open SCD2 interval [valid_from,
    -- valid_to) containing the purchase ts, never a later one (that
    -- would be training-label leakage) and never two (half-open
    -- intervals partition time). Open-ended current rows close at a
    -- fixed literal horizon.
    WITH dim AS (
      SELECT user_id, value AS view_value, ts AS valid_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      TIMESTAMP '2024-02-01 00:00:00') AS valid_to
      FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           d.view_value, d.valid_from AS state_since
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN dim d
      ON p.user_id = d.user_id
     AND p.ts >= d.valid_from AND p.ts < d.valid_to
    ORDER BY p.event_id
    """,
    survey_ref="extended: SCD2 point-in-time feature join (half-open validity intervals, leakage-free enrichment)",
    tags=("bench",),
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store enrichment done the scale way: build the per-user
    view-state SCD2 intervals (one LEAD window), close the current row
    at a LITERAL horizon (a data-dependent max(ts) would serialize a
    pre-pass), then bucketed_range_join(closed='left') — time-bucket
    equi-join + exact half-open containment filter, the equi-join
    rewrite of the interval theta-join that a BNLJ would make
    quadratic at 100 TB. Half-open bounds mean a purchase exactly on a
    state boundary joins the NEXT state only — at most ONE row per
    purchase, and never a future state (the leakage direction)."""
    from ..operators.sessions import bucketed_range_join

    t = catalog.tables(spark, sf_dir)
    ev_t = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev_t.filter(F.col("event_type") == "view")
        .select("user_id", F.col("value").alias("view_value"), "ts", "event_id")
        .select(
            "user_id",
            "view_value",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(w),
                F.lit("2024-02-01 00:00:00").cast("timestamp"),
            ).alias("valid_to"),
        )
    )
    purchases = ev_t.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        bucketed_range_join(
            purchases, dim,
            # r16: bucket step sized to the INTERVAL distribution, not
            # copied from the session join. SCD2 validity intervals are
            # inter-view gaps (~days at every fixture SF: 19,941 views
            # over a 30-day window exploded to 2.09M 30-minute bucket
            # rows — ~105 buckets per interval, 100x the interval
            # count). Day buckets cut the explode ~30x while a
            # purchase still probes one bucket and meets only its own
            # user's handful of same-day intervals. Results are
            # identical by construction: the exact half-open
            # containment filter is unchanged, bucketing only controls
            # candidate generation.
            key="user_id", ts="ts", start="valid_from", end="valid_to",
            step_minutes=1440, closed="left",
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "view_value",
            F.col("valid_from").alias("state_since"),
        )
        .orderBy("event_id")
    )


@register(
    "conversion_latency_stats",
    oracle="""
    -- View→purchase conversion latency distribution per first-touch
    -- channel. Latency is exact integer microseconds; p50/p90 use the
    -- NEAREST-RANK definition (rank = ceil(p·n), one selected value,
    -- no interpolation) so every engine picks the identical row.
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
      FROM events GROUP BY user_id),
    chan AS (
      SELECT user_id, event_type AS first_channel FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events) t WHERE rn = 1),
    lat AS (
      SELECT c.first_channel, f.user_id,
             CAST(f.p_us - f.v_us AS BIGINT) AS lat_us
      FROM firsts f JOIN chan c USING (user_id)
      WHERE f.v_us IS NOT NULL AND f.p_us IS NOT NULL AND f.p_us > f.v_us),
    ranked AS (
      SELECT first_channel, lat_us,
             ROW_NUMBER() OVER (PARTITION BY first_channel
                                ORDER BY lat_us, user_id) AS rn,
             COUNT(*) OVER (PARTITION BY first_channel) AS n
      FROM lat)
    SELECT first_channel,
           CAST(MIN(n) AS BIGINT) AS n_users,
           ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                          THEN lat_us END) / 1000000.0, 3) + 0.0 AS p50_s,
           ROUND(MIN(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                          THEN lat_us END) / 1000000.0, 3) + 0.0 AS p90_s
    FROM ranked
    GROUP BY first_channel ORDER BY first_channel
    """,
    survey_ref="extended: conversion latency percentiles (nearest-rank, per first-touch channel)",
    tags=("bench",),
)
def q_conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per first-touch channel, the p50
    and p90 of first-view→first-purchase latency. Latencies are exact
    integer microseconds end to end; percentiles are NEAREST-RANK
    selections ((lat, user_id) tiebreak) — one picked row, zero
    interpolation arithmetic, so the strict hash replays on any
    engine. Scale shape: two user-keyed aggregations (firsts + first
    event) joined on user_id, then one channel-keyed rank window over
    the |converting users| frame — every shuffle key is user_id or the
    low-cardinality channel; the documented 100 TB swap for the
    channel window is approx_percentile."""
    from ..operators import profiling

    t = catalog.tables(spark, sf_dir)
    return profiling.conversion_latency_stats(t["events"], approx=False)


@register(
    "session_bounce_stats",
    oracle="""
    -- Session engagement rollup keyed by the session's ENTRY event
    -- type: bounce rate (single-event sessions), mean events/session,
    -- mean duration. The same 30-min lag/running-sum sessionization as
    -- event_sessions; duration is exact integer microseconds; each
    -- mean is ONE double division of two exact integers.
    WITH numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 30*60*1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
      FROM (
        SELECT user_id, ts, event_id, event_type,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events) t),
    sessions AS (
      SELECT user_id, session_no,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS dur_us,
             (MIN(struct_pack(ts := ts, event_id := event_id,
                              event_type := event_type))).event_type
               AS entry_type
      FROM numbered
      GROUP BY user_id, session_no)
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) + 0.0 AS bounce_rate,
           ROUND(CAST(SUM(n_events) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4)
             + 0.0 AS avg_events,
           ROUND(CAST(SUM(dur_us) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                 / 1000000.0, 3) + 0.0 AS avg_duration_s
    FROM sessions
    GROUP BY entry_type ORDER BY entry_type
    """,
    survey_ref="extended: session bounce/engagement rollup by entry event type",
    tags=("bench",),
)
def q_session_bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement rollup per session ENTRY type: bounce rate
    (single-event sessions), mean events per session, mean duration —
    the landing-page health report of web analytics. Reuses
    operators/sessions.assign_sessions (one user_id shuffle shared by
    lag + numbering); the entry type is a min-struct over the unique
    (ts, event_id) key, durations are exact integer microseconds, and
    every mean is one double division of exact integer sums — nothing
    float crosses a shuffle. Final rollup keys on the low-cardinality
    entry type."""
    from ..operators import sessions

    t = catalog.tables(spark, sf_dir)
    numbered = sessions.assign_sessions(
        t["events"].select("user_id", "event_id", "ts", "event_type")
    )
    us = F.unix_micros(F.col("ts"))
    sess = numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max(us) - F.min(us)).cast("long").alias("dur_us"),
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "entry_type"
        ),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            bounce.cast("long").alias("n_bounces"),
            (
                F.round(bounce.cast("double") / F.count(F.lit(1)), 4) + 0.0
            ).alias("bounce_rate"),
            (
                F.round(
                    F.sum("n_events").cast("long")
                    / F.count(F.lit(1)).cast("double"),
                    4,
                )
                + 0.0
            ).alias("avg_events"),
            (
                F.round(
                    F.sum("dur_us").cast("long")
                    / F.count(F.lit(1)).cast("double")
                    / 1000000.0,
                    3,
                )
                + 0.0
            ).alias("avg_duration_s"),
        )
        .orderBy("entry_type")
    )


@register(
    "event_transition_matrix",
    oracle="""
    -- First-order Markov transition counts over each user's event
    -- stream ((ts, event_id) order), row-normalized to probabilities:
    -- one lag window + one (prev, next) count + a per-prev total
    -- broadcast back; prob is ONE double division of exact integers.
    WITH seq AS (
      SELECT user_id, event_type AS next_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type),
    totals AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n
      FROM trans GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.n,
           ROUND(CAST(t.n AS DOUBLE) / tt.row_n, 6) + 0.0 AS prob
    FROM trans t JOIN totals tt USING (prev_type)
    ORDER BY t.prev_type, t.next_type
    """,
    survey_ref="extended: first-order Markov transition matrix over user event streams",
    tags=("bench",),
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: P(next event type | previous) per
    user stream — the first-order Markov model behind next-action
    prediction and anomalous-flow detection. ONE user-keyed lag window
    ((ts, event_id) tiebreak), one (prev, next) count whose key space
    is |types|², and a |types|-row totals broadcast; the probability
    is one double division of exact integer counts, so the matrix is
    width-invariant and oracle-exact. At 100 TB nothing after the lag
    window sees data volume."""
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("row_n")
    )
    return (
        trans.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            (
                F.round(F.col("n").cast("double") / F.col("row_n"), 6) + 0.0
            ).alias("prob"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "time_weighted_value",
    oracle="""
    -- Time-weighted average of each user's value signal over their
    -- irregular event times (the TWAP / time-weighted-state primitive
    -- of sensor and finance pipelines): each value holds from its
    -- event until the next one. All weights are exact integers
    -- (cents x microseconds); the average is ONE double division.
    WITH seq AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_us
      FROM events),
    seg AS (
      SELECT user_id,
             CAST(SUM(cents * (next_us - us)) AS BIGINT) AS wsum,
             CAST(SUM(next_us - us) AS BIGINT) AS span_us,
             CAST(COUNT(*) AS BIGINT) AS n_segments
      FROM seq WHERE next_us IS NOT NULL
      GROUP BY user_id)
    SELECT user_id, n_segments,
           ROUND(CAST(span_us AS DOUBLE) / 1000000.0, 3) + 0.0 AS span_s,
           ROUND(CAST(wsum AS DOUBLE) / span_us / 100.0, 4) + 0.0 AS twa_value
    FROM seg
    WHERE span_us > 0
    ORDER BY user_id
    """,
    survey_ref="extended: time-weighted average over irregular event times (TWAP shape)",
    tags=("bench",),
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value: each observation holds
    until the next (step-function integral / total span) — the right
    mean for irregularly-sampled state, where the plain average
    over-weights bursts. One user-keyed lead window, then exact
    integer cents×µs weights summed per user; the average is one
    double division of two exact BIGINTs (headroom: 10⁴ cents × 10¹²
    µs spans ≈ 10¹⁶ ≪ 2⁶³; DECIMAL(38) documented past that). One
    shuffle on user_id end to end."""
    t = catalog.tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = t["events"].select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    )
    seg = (
        seq.filter(F.col("next_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * (F.col("next_us") - F.col("us")))
            .cast("long")
            .alias("wsum"),
            F.sum(F.col("next_us") - F.col("us")).cast("long").alias("span_us"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
        )
    )
    return (
        seg.filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "n_segments",
            (
                F.round(F.col("span_us").cast("double") / 1000000.0, 3) + 0.0
            ).alias("span_s"),
            (
                F.round(
                    F.col("wsum").cast("double") / F.col("span_us") / 100.0, 4
                )
                + 0.0
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@register(
    "event_sessions_native",
    oracle="""
    -- Oracle replays Spark's native session_window semantics with the
    -- portable lag/running-sum construction: identical 30-min-gap
    -- session membership, so session_start = MIN(ts) and n_events
    -- match; only the native form's gap-padded end column is omitted
    -- (derivable as MAX(ts) + the gap).
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    survey_ref="extended: native session_window batch sessionization (engine-operator twin)",
    tags=("bench",),
)
def q_event_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN ``session_window`` run in batch mode — the
    engine-native twin of the lag/running-sum sessionization
    (event_sessions). Same 30-minute-gap semantics, one user_id-keyed
    aggregation with the session merge done inside the operator (no
    explicit window pass at all) — the form to prefer when the
    engine's session operator exists; the lag construction remains the
    portable oracle. Cross-engine equivalence of the two constructions
    is exactly what this query's driver row proves."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "hourly_volume_spikes",
    oracle="""
    -- Volume-spike monitor: hour-over-hour count ratio per event
    -- type, top 10 spikes. Counts are exact integers; the ratio is
    -- ONE double division, ranked on its ROUNDED value with a
    -- tiebreak-complete order so the cut replays on any engine.
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    with_prev AS (
      SELECT event_type, hr, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY hr) AS prev_n
      FROM hourly)
    SELECT event_type, hr, n, prev_n,
           ROUND(CAST(n AS DOUBLE) / prev_n, 4) + 0.0 AS ratio
    FROM with_prev
    WHERE prev_n IS NOT NULL AND prev_n >= 2
    ORDER BY ABS(ROUND(CAST(n AS DOUBLE) / prev_n, 4) - 1.0) DESC,
             event_type ASC, hr ASC
    LIMIT 10
    """,
    survey_ref="extended: hour-over-hour volume spike monitor (rounded-ratio rank)",
    tags=("bench",),
)
def q_hourly_volume_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health monitor: the 10 largest hour-over-hour volume
    swings per event type (ratio furthest from 1.0, floor of 2 events
    so empty-hour noise can't dominate). One (type, hour) count, one
    per-type lag window over the tiny hourly frame, rank on the
    ROUNDED ratio with (type, hour) tiebreak — every rank boundary
    replays bit-exact. At 100 TB the hourly frame is |types|·|hours|
    rows — metadata-sized — so everything after the first count is
    free."""
    t = catalog.tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    ratio = F.round(F.col("n").cast("double") / F.col("prev_n"), 4) + 0.0
    return (
        hourly.withColumn("prev_n", F.lag("n").over(w))
        .filter(F.col("prev_n").isNotNull() & (F.col("prev_n") >= 2))
        .select("event_type", "hr", "n", "prev_n", ratio.alias("ratio"))
        .orderBy(
            F.abs(F.col("ratio") - 1.0).desc(),
            F.asc("event_type"),
            F.asc("hr"),
        )
        .limit(10)
    )


@register(
    "cohort_ltv",
    oracle="""
    -- Cohort lifetime-value curve: weekly cohorts (Monday-truncated
    -- first-event week), purchase revenue per week offset, cumulative
    -- LTV per cohort user. Revenue rides as exact integer cents; the
    -- cumulative sum runs over the tiny (cohort, offset) frame; each
    -- LTV is ONE double division chain in pinned order.
    WITH first_week AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM first_week GROUP BY cohort_week),
    rev AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS week_offset,
             CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e JOIN first_week f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2)
    SELECT r.cohort_week, r.week_offset, s.cohort_users,
           ROUND(r.cents / 100.0, 2) + 0.0 AS revenue,
           ROUND(CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_week
                      ORDER BY r.week_offset
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) / s.cohort_users / 100.0, 4) + 0.0
             AS cum_ltv_per_user
    FROM rev r JOIN sizes s USING (cohort_week)
    ORDER BY r.cohort_week, r.week_offset
    """,
    survey_ref="extended: cohort lifetime-value curve (cumulative revenue per cohort user)",
    tags=("bench",),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV curve per weekly cohort: purchase revenue by week offset
    and the cumulative value per cohort user — the payback-period
    table next to the retention matrix (same cohort definition as
    retention_cohorts). Two user-keyed aggregations joined on
    user_id collapse the stream to |cohorts|·|weeks| rows; the
    cumulative window and the per-user division run over that
    metadata-sized frame with exact integer cents."""
    t = catalog.tables(spark, sf_dir)
    e = t["events"].select("user_id", "ts", "event_type", "value")
    first_week = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = first_week.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_week, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            (F.round(F.col("cents") / 100.0, 2) + 0.0).alias("revenue"),
            (
                F.round(
                    F.sum("cents").over(w).cast("double")
                    / F.col("cohort_users")
                    / 100.0,
                    4,
                )
                + 0.0
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "ab_test_conversion",
    oracle="""
    -- Two-proportion A/B test on conversion (user has >=1 purchase
    -- above $150 — the high-value threshold keeps both arms'
    -- rates strictly inside (0,1) at every fixture SF),
    -- arms assigned by the portable md5 bucket of user_id. The test
    -- statistic is z^2 (the chi-square-equivalent form): built from
    -- exact integer counts with +-*/ only — no sqrt/log, so the
    -- doubles are bit-identical on both engines.
    WITH users AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS c_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS c_b
      FROM users)
    SELECT n_a, c_a, n_b, c_b,
           ROUND(CAST(c_a AS DOUBLE) / n_a, 6) + 0.0 AS rate_a,
           ROUND(CAST(c_b AS DOUBLE) / n_b, 6) + 0.0 AS rate_b,
           ROUND(
             (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             * (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / ((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)), 4) + 0.0 AS z_squared
    FROM arms
    """,
    survey_ref="extended: two-proportion A/B significance (z-squared, sqrt-free)",
)
def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation primitive: split users into two arms by the
    stable md5 bucket (the same portable-hash idiom as hash_split, so
    assignment is reproducible anywhere), compare conversion
    (≥1 purchase above $150) and report the pooled two-proportion z² statistic —
    algebraically z², so z² > 3.84 ≈ p < 0.05 without any sqrt/log in
    the plan (engine-identical doubles by construction). One user
    aggregation collapsing to a 1-row arm summary; the statistic is a
    pinned-order expression over exact integers."""
    from ..operators.sampling import _hash60

    t = catalog.tables(spark, sf_dir)
    users = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            (_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
            "converted",
        )
    )
    arms = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z2 = (ra - rb) * (ra - rb) / (
        pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (F.round(ra, 6) + 0.0).alias("rate_a"),
        (F.round(rb, 6) + 0.0).alias("rate_b"),
        (F.round(z2, 4) + 0.0).alias("z_squared"),
    )


@register(
    "activity_heatmap",
    oracle="""
    -- Usage heatmap: event counts by ISO weekday x hour-of-day — the
    -- |7x24|-cell matrix behind load planning and anomaly eyeballing.
    -- Pure integer counts on calendar keys both engines derive
    -- identically (isodow 1=Monday, 24h hours, UTC session).
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY isodow(ts), EXTRACT(hour FROM ts)
    ORDER BY dow, hod
    """,
    survey_ref="extended: weekday x hour activity heatmap (calendar-key matrix)",
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour usage matrix: one aggregation whose key space is
    at most 168 cells — map-side partials collapse everything before
    the exchange regardless of corpus size. Spark's ``weekday()``
    (0=Monday) + 1 equals DuckDB's ``isodow`` exactly, avoiding the
    engines' conflicting ``dayofweek`` conventions (Spark 1=Sunday,
    DuckDB 0=Sunday)."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy("dow", "hod")
    )


@register(
    "revenue_mom_growth",
    oracle="""
    -- Month-over-month revenue growth: the KPI table every revenue
    -- review starts from. Monthly totals in exact cents; growth is
    -- ONE double division of two exact BIGINTs per row.
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY date_trunc('month', o_orderdate)),
    w AS (
      SELECT month, cents,
             LAG(cents) OVER (ORDER BY month) AS prev_cents
      FROM monthly)
    SELECT month,
           ROUND(cents / 100.0, 2) + 0.0 AS revenue,
           ROUND(CASE WHEN prev_cents IS NOT NULL
                      THEN (CAST(cents AS DOUBLE) - prev_cents) / prev_cents
                 END, 6) + 0.0 AS mom_growth
    FROM w ORDER BY month
    """,
    survey_ref="extended: month-over-month revenue growth (lag-ratio KPI)",
)
def q_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoM revenue growth: monthly totals (exact integer cents, one
    date-keyed aggregation collapsing to |months| rows) and the
    lag-ratio growth over that metadata-sized frame
    (tiny_global_window — a by-design bounded window, never data
    rows). First month's growth is NULL on both engines."""
    from ..operators.sampling import tiny_global_window

    t = catalog.tables(spark, sf_dir)
    monthly = (
        t["orders"]
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = tiny_global_window(F.col("cents")).orderBy("month")
    growth = F.when(
        F.col("prev_cents").isNotNull(),
        (F.col("cents").cast("double") - F.col("prev_cents")) / F.col("prev_cents"),
    )
    return (
        monthly.withColumn("prev_cents", F.lag("cents").over(w))
        .select(
            "month",
            (F.round(F.col("cents") / 100.0, 2) + 0.0).alias("revenue"),
            (F.round(growth, 6) + 0.0).alias("mom_growth"),
        )
        .orderBy("month")
    )


@register(
    "rolling_wau",
    oracle="""
    -- DAU and EXACT rolling 7-day active users: each (user, day)
    -- contributes to the 7 daily windows ending on day..day+6, so a
    -- distinct count per window end gives true WAU (a rolling SUM of
    -- DAU would double-count multi-day users). Bounded 7x fan-out;
    -- windows past the last active day are clipped to observed days.
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    contrib AS (
      SELECT ud.user_id, ud.d + CAST(x.o AS INTEGER) AS win_end
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) x),
    wau AS (
      SELECT win_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY win_end),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d)
    SELECT CAST(dau.d AS TIMESTAMP) AS day, dau.dau, w.wau
    FROM dau JOIN wau w ON w.win_end = dau.d
    ORDER BY day
    """,
    survey_ref="extended: exact rolling 7-day active users (bounded fan-out distinct)",
    tags=("bench",),
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-metrics pair every product dashboard opens with:
    daily actives and TRUE rolling-7-day actives. Exact WAU needs a
    distinct over each window — the honest distributed form explodes
    every (user, day) into the ≤7 window-ends it belongs to (bounded
    fan-out, unlike a rolling SUM of DAU which double-counts
    multi-day users) and distinct-counts per window end. Two
    user/day-keyed aggregations; at 100 TB the documented swap for
    the per-window distinct is an HLL sketch per day merged across
    the window (mergeable, one pass — tests/test_approx.py covers the
    sketch accuracy path)."""
    from ..operators import profiling

    t = catalog.tables(spark, sf_dir)
    return profiling.rolling_wau(t["events"], approx=False)


@register(
    "user_churn_rate",
    oracle="""
    -- Churn by acquisition channel: a user is churned iff their last
    -- event precedes the corpus horizon (max ts) by more than 14
    -- days. The horizon is data-derived (deterministic per fixture);
    -- first-touch channel is the rn=1 pick on the total order; the
    -- rate is ONE double division of exact counts.
    WITH horizon AS (SELECT MAX(epoch_us(ts)) AS h FROM events),
    lasts AS (
      SELECT user_id, MAX(epoch_us(ts)) AS last_us FROM events
      GROUP BY user_id),
    chan AS (
      SELECT user_id, event_type AS first_channel FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events) t WHERE rn = 1),
    flags AS (
      SELECT c.first_channel,
             CASE WHEN l.last_us < h.h - CAST(14*86400 AS BIGINT)*1000000
                  THEN 1 ELSE 0 END AS churned
      FROM lasts l JOIN chan c USING (user_id) CROSS JOIN horizon h)
    SELECT first_channel,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(churned) AS BIGINT) AS n_churned,
           ROUND(CAST(SUM(churned) AS DOUBLE) / COUNT(*), 4) + 0.0
             AS churn_rate
    FROM flags GROUP BY first_channel ORDER BY first_channel
    """,
    survey_ref="extended: churn rate by acquisition channel (horizon-relative inactivity)",
    tags=("bench",),
)
def q_user_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn table by acquisition channel: users whose last activity
    trails the corpus horizon by >14 days. The horizon is one bounded
    scalar probe (max ts — deterministic per dataset, the standard
    as-of-snapshot convention); last-activity and first-channel are
    two user-keyed passes joined on user_id; the rate is one double
    division of exact counts. At 100 TB everything after the user
    collapse is |channels| rows."""
    t = catalog.tables(spark, sf_dir)
    e = t["events"].select("user_id", "ts", "event_id", "event_type")
    us = F.unix_micros(F.col("ts"))
    horizon = e.agg(F.max(us)).collect()[0][0]  # bounded scalar probe
    # r16: last-activity and first-touch channel in ONE user-keyed hash
    # aggregation (min_by over the tie-free (ts, event_id) key replays
    # the row_number window's order) — no second exchange+sort pass, no
    # lasts⋈chan join. NULL-key note (ADVICE r16): min_by skips
    # NULL-keyed rows where the old NULLS-FIRST window ranked them
    # first; equivalent because events.ts is generated NOT NULL
    # (FIXTURES.md; verified 0 NULL ts at every SF).
    flags = e.groupBy("user_id").agg(
        F.max(us).alias("last_us"),
        F.min_by(
            "event_type", F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e"))
        ).alias("first_channel"),
    ).select(
        "first_channel",
        F.when(
            F.col("last_us") < F.lit(horizon - 14 * 86400 * 1_000_000), 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    return (
        flags.groupBy("first_channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("churned").cast("long").alias("n_churned"),
            (
                F.round(F.sum("churned").cast("double") / F.count(F.lit(1)), 4)
                + 0.0
            ).alias("churn_rate"),
        )
        .orderBy("first_channel")
    )


#: Oracle for the watermark-drop audit: replays the planted-late rule
#: (streaming/events._stage_wmdrop_replay) — copies of every event in
#: the first EIGHTH of the integer-microsecond time range arrive after
#: the watermark reached ``hi - 1 hour``, so the streaming aggregate
#: must have dropped ALL of them and ONLY them. epoch_us + integer
#: division replays the Spark-side cut bit-exactly.
WATERMARK_DROP_ORACLE = """
WITH b AS (
  SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
),
obs AS (
  SELECT date_trunc('hour', ts) AS w, COUNT(*) AS n FROM events GROUP BY 1
),
pl AS (
  SELECT date_trunc('hour', e.ts) AS w, COUNT(*) AS n
  FROM events e, b
  WHERE epoch_us(e.ts) < b.lo + (b.hi - b.lo) // 8
  GROUP BY 1
)
SELECT obs.w AS window_start,
       CAST(obs.n + COALESCE(pl.n, 0) AS BIGINT) AS n_observed,
       CAST(obs.n AS BIGINT) AS n_on_time,
       CAST(COALESCE(pl.n, 0) AS BIGINT) AS n_dropped_late
FROM obs LEFT JOIN pl ON obs.w = pl.w
ORDER BY window_start
"""


@register(
    "watermark_drop_audit",
    oracle=WATERMARK_DROP_ORACLE,
    survey_ref="§2.9 T3 extended: watermark observability (late-drop accounting per window)",
)
def q_watermark_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows observed vs rows dropped-as-late per hourly window, on a
    replay with planted late arrivals (VERDICT r10 stretch item 7).
    The oracle hash-pins that the watermark dropped exactly the
    planted set — a run that dropped nothing (watermark not applied)
    or too much (overeager eviction) mismatches."""
    return ev.watermark_drop_audit(spark, sf_dir)
