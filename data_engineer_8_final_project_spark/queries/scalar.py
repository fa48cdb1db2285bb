"""Scalar cleaning/derivation queries (SURVEY.md §2.8 F1-F12, §2.2 P-ops, §2.4 A4).

The reference cleans scraped rows row-at-a-time in Python
(reference dags/projectde_dag.py:60-131: split, strip, dict-map,
year inference, date parse, score split with NULL-on-malformed, 3/1/0
points). Here each of those becomes a declarative expression pipeline
over the fixture tables — whole-stage-codegen'd, zero Python UDFs —
with a value-identical DuckDB oracle.

The F7/P4 (score parse), F1/F3/F5 (string clean), P1 (junk filter) and
A4/F8 (points conditional) families are exercised by ONE combined
query, ``scalar_cleaning_suite`` — their full-pipeline form already
runs under ``matches_clean`` (queries/reference_pipeline.py), so one
driver slot verifies all four scalar families instead of four slots
repeating semantics the pipeline query covers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..registry import register

# --------------------------------------------------------------------------
# Date functions (F4/F6/F10/F11 family)
# --------------------------------------------------------------------------


@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)  AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_year, order_month
    """,
    survey_ref="§2.8 F6/F11 (date parts + arithmetic)",
)
def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("order_year", "order_month")
    )


@register(
    "day_name_dimension",
    oracle="""
    -- Day-code -> day-name dictionary map (reference dags/projectde_dag.py:68-76).
    -- DuckDB dayofweek: 0=Sunday..6=Saturday.
    SELECT CASE EXTRACT(DOW FROM o_orderdate)
             WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
             WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday'
             ELSE 'Saturday' END AS day_name,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1
    ORDER BY day_name
    """,
    survey_ref="§2.8 F2 (day-code dictionary map via when-chain)",
)
def q_day_name_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    # Spark dayofweek: 1=Sunday..7=Saturday.
    dow = F.dayofweek("o_orderdate")
    day_name = (
        F.when(dow == 1, "Sunday")
        .when(dow == 2, "Monday")
        .when(dow == 3, "Tuesday")
        .when(dow == 4, "Wednesday")
        .when(dow == 5, "Thursday")
        .when(dow == 6, "Friday")
        .otherwise("Saturday")
    )
    return (
        t["orders"]
        .groupBy(day_name.alias("day_name"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("day_name")
    )


@register(
    "season_year_inference",
    oracle="""
    -- Month-based year inference (reference dags/projectde_dag.py:82-83:
    -- Jan-Jul belongs to the later season year).
    SELECT CAST(CASE WHEN EXTRACT(MONTH FROM o_orderdate) <= 7
                     THEN EXTRACT(YEAR FROM o_orderdate)
                     ELSE EXTRACT(YEAR FROM o_orderdate) + 1 END AS BIGINT) AS season_year,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1
    ORDER BY season_year
    """,
    survey_ref="§2.8 F4 (month-based year inference)",
)
def q_season_year_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    season = (
        F.when(F.month("o_orderdate") <= 7, F.year("o_orderdate"))
        .otherwise(F.year("o_orderdate") + 1)
        .cast("long")
    )
    return (
        t["orders"]
        .groupBy(season.alias("season_year"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("season_year")
    )


@register(
    "completed_before_cutoff",
    oracle="""
    -- "Completed strictly before yesterday" predicate (reference
    -- dags/projectde_dag.py:95-97) with the as-of date frozen to a
    -- literal (FIXTURES.md determinism rules).
    SELECT COUNT(*) AS n_completed,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_key
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' - INTERVAL 1 DAY
    """,
    survey_ref="§2.2 P3 (completed-match date predicate, frozen as-of)",
)
def q_completed_before_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp") - F.expr("INTERVAL 1 DAY")
    return t["orders"].filter(F.col("o_orderdate") < cutoff).agg(
        F.count(F.lit(1)).alias("n_completed"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
    )


# --------------------------------------------------------------------------
# Combined scalar-cleaning suite: F7/P4 + F1/F3/F5 + P1 + A4/F8 in one
# driver slot (one row group per family, shared output schema).
# --------------------------------------------------------------------------


@register(
    "scalar_cleaning_suite",
    oracle="""
    -- Four scalar families, one verifiable table:
    --   score_parse  — split '{h} - {a}' / NULL-on-malformed
    --                  (reference dags/projectde_dag.py:100-102)
    --   string_clean — split-first/trim/length over documents (F1/F3/F5)
    --   junk_filter  — set-membership + regex junk drop
    --                  (reference dags/projectde_dag.py:46-47,
    --                   spark-scripts/spark-project.py:37-38)
    --   points       — 3/1/0 when-chain (reference dags/projectde_dag.py:128-129)
    WITH scored AS (
      SELECT CASE WHEN l_orderkey % 37 = 0 THEN 'pp.'
                  ELSE CONCAT(CAST(l_linenumber AS VARCHAR), ' - ',
                              CAST(l_suppkey % 10 AS VARCHAR)) END AS score
      FROM lineitem
    ),
    parsed AS (
      SELECT TRY_CAST(string_split(score, ' - ')[1] AS BIGINT) AS hg,
             TRY_CAST(string_split(score, ' - ')[2] AS BIGINT) AS ag
      FROM scored
    )
    SELECT 'score_parse' AS check_name, 'lineitem' AS grp,
           CAST(SUM(CASE WHEN hg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n,
           ROUND(CAST(SUM(hg) + SUM(ag) AS DOUBLE), 2) AS metric
    FROM parsed
    UNION ALL
    SELECT 'string_clean', 'documents',
           COUNT(*),
           ROUND(CAST(SUM(LENGTH(text))
                      + SUM(LENGTH(string_split(TRIM(text), ' ')[1])) AS DOUBLE), 2)
    FROM documents
    UNION ALL
    SELECT 'junk_filter', 'part',
           COUNT(*),
           ROUND(CAST(SUM(p_partkey) AS DOUBLE), 2)
    FROM part
    WHERE p_type NOT IN ('PROMO', 'ECONOMY')
      AND NOT regexp_matches(p_name, '[0-9]{3,}')
    UNION ALL
    SELECT 'points', CAST(pts AS VARCHAR), COUNT(*), ROUND(AVG(o_totalprice), 2)
    FROM (SELECT CASE WHEN o_totalprice > 250000 THEN 3
                      WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS pts,
                 o_totalprice
          FROM orders) t
    GROUP BY pts
    ORDER BY check_name, grp
    """,
    survey_ref="§2.8 F1/F3/F5/F7/F8 + §2.2 P1/P4 + §2.4 A4 (combined suite)",
)
def q_scalar_cleaning_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)

    # score_parse: split → try_cast halves (Spark 4 ANSI: plain cast
    # THROWS on 'pp.', getItem THROWS past end → F.get + try_cast give
    # the reference's NULL-on-malformed semantics).
    score = F.when(F.col("l_orderkey") % 37 == 0, F.lit("pp.")).otherwise(
        F.concat_ws(
            " - ", F.col("l_linenumber").cast("string"), (F.col("l_suppkey") % 10).cast("string")
        )
    )
    parts = F.split(score, " - ")
    score_leg = (
        t["lineitem"]
        .select(
            F.get(parts, 0).try_cast("long").alias("hg"),
            F.get(parts, 1).try_cast("long").alias("ag"),
        )
        .agg(
            F.sum(F.when(F.col("hg").isNull(), 1).otherwise(0)).cast("long").alias("n"),
            F.round((F.sum("hg") + F.sum("ag")).cast("double"), 2).alias("metric"),
        )
        .select(
            F.lit("score_parse").alias("check_name"),
            F.lit("lineitem").alias("grp"),
            "n",
            "metric",
        )
    )

    first_token = F.split(F.trim("text"), " ").getItem(0)
    string_leg = (
        t["documents"]
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                (F.sum(F.length("text")) + F.sum(F.length(first_token))).cast("double"), 2
            ).alias("metric"),
        )
        .select(
            F.lit("string_clean").alias("check_name"),
            F.lit("documents").alias("grp"),
            "n",
            "metric",
        )
    )

    junk_leg = (
        t["part"]
        .filter(~F.col("p_type").isin("PROMO", "ECONOMY"))
        .filter(~F.col("p_name").rlike("[0-9]{3,}"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("p_partkey").cast("double"), 2).alias("metric"),
        )
        .select(
            F.lit("junk_filter").alias("check_name"),
            F.lit("part").alias("grp"),
            "n",
            "metric",
        )
    )

    pts = (
        F.when(F.col("o_totalprice") > 250000, 3)
        .when(F.col("o_totalprice") > 100000, 1)
        .otherwise(0)
    )
    points_leg = (
        t["orders"]
        .groupBy(pts.alias("pts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("metric"),
        )
        .select(
            F.lit("points").alias("check_name"),
            F.col("pts").cast("string").alias("grp"),
            "n",
            "metric",
        )
    )

    return (
        score_leg.unionByName(string_leg)
        .unionByName(junk_leg)
        .unionByName(points_leg)
        .orderBy("check_name", "grp")
    )


# --------------------------------------------------------------------------
# JSON extraction (events.props — §2.9 T3 decode surface, batch form)
# --------------------------------------------------------------------------


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    survey_ref="§2.9 T3 (JSON payload decode, batch form) via from_json",
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import EVENT_PROPS

    t = catalog.tables(spark, sf_dir)
    return (
        t["events"]
        .withColumn("k", F.from_json("props", EVENT_PROPS).getField("k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "events_props_variant",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    survey_ref="§2.9 T3 extended: semi-structured payloads via VARIANT (Spark 4)",
)
def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT-typed twin of events_json_extract: props parses once
    into Spark 4's binary semi-structured VARIANT type and fields are
    extracted with variant_get path expressions — the open-schema path
    for payloads whose shape drifts (parse_json + a typed StructType
    from_json would silently null new fields; VARIANT keeps them).
    At scale VARIANT's binary encoding decodes fields without
    re-tokenizing the JSON text per access — the same reason the
    warehouse engines store semi-structured columns pre-parsed."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["events"]
        .withColumn("v", F.parse_json("props"))
        .withColumn("k", F.expr("variant_get(v, '$.k', 'long')"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )
