"""Driver-gated end-to-end run of the reference-native cleaning pipeline.

Synthesizes MATCH_RAW-shaped rows ('Sa 25 Jan', 'CLUB_3', '2 - 1', …)
deterministically from ``lineitem`` keys — identically in Spark and in
the oracle SQL — then runs the REAL operators/cleaning.py pipeline
(junk filter → day map → year inference → date parse → future filter →
score split → points) and the league_standings aggregation over it.
This puts the reference's own semantics (reference
dags/projectde_dag.py:60-248), not just their re-hosted analogues,
under the driver's hash-match gate.

The oracle mirrors the *semantics*: it reconstructs match_date with
make_date (the synthetic day-of-month 1..28 and month index are always
valid, so the only parse failures are the injected junk rows, which the
junk filter already removed).

``matches_clean`` omits the sequential id column: synthetic rows can
tie on the id window's (match_date, home_team, away_team) sort key,
which would make id assignment among tied rows nondeterministic;
standings ids are safe (club is unique per league).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..operators.cleaning import clean_matches, league_standings
from ..registry import register
from ..sources import html

DAY_CODES = ["Sa", "Su", "Mo", "Tu"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
LEAGUES = ["england", "france", "italy", "germany", "netherlands", "spain"]

AS_OF = "2025-03-01"
CREATED_AT = "2025-03-01 09:00:00"


def synth_matches_raw(lineitem: DataFrame) -> DataFrame:
    """lineitem → MATCH_RAW shape, all-deterministic from keys."""
    lk, pk, sk, ln = (
        F.col("l_orderkey"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.col("l_linenumber"),
    )
    day_code = F.when(pk % 11 == 0, F.lit("Zz")).otherwise(
        F.element_at(F.array(*[F.lit(d) for d in DAY_CODES]), (ln % 4 + 1).cast("int"))
    )
    mon = F.element_at(F.array(*[F.lit(m) for m in MONTHS]), (pk % 12 + 1).cast("int"))
    dnum = (1 + lk % 28).cast("string")
    date = F.when(lk % 41 == 0, F.lit("Averages")).otherwise(
        F.concat_ws(" ", day_code, dnum, mon)
    )
    score = F.when(lk % 37 == 0, F.lit("pp.")).otherwise(
        F.concat_ws(
            " - ", ((lk + ln) % 7).cast("string"), ((pk + sk) % 7).cast("string")
        )
    )
    return lineitem.select(
        date.alias("date"),
        F.concat(F.lit("CLUB_"), (sk % 15).cast("string")).alias("home_team"),
        score.alias("score"),
        F.concat(F.lit("CLUB_"), ((sk + 1 + pk % 14) % 15).cast("string")).alias("away_team"),
        F.element_at(F.array(*[F.lit(x) for x in LEAGUES]), (lk % 6 + 1).cast("int")).alias(
            "league"
        ),
    )


_ORACLE_CLEANED_CTE = """
WITH raw AS (
  SELECT
    CASE WHEN l_orderkey % 41 = 0 THEN 'Averages'
         ELSE (CASE WHEN l_partkey % 11 = 0 THEN 'Zz'
                    ELSE ['Sa','Su','Mo','Tu'][CAST(l_linenumber % 4 AS INT) + 1] END)
    END AS day_code,
    CAST(l_partkey % 12 AS INT) + 1 AS mon_num,
    CAST(1 + l_orderkey % 28 AS INT) AS dnum,
    'CLUB_' || CAST(l_suppkey % 15 AS VARCHAR) AS home_team,
    'CLUB_' || CAST((l_suppkey + 1 + l_partkey % 14) % 15 AS VARCHAR) AS away_team,
    ['england','france','italy','germany','netherlands','spain'][CAST(l_orderkey % 6 AS INT) + 1]
      AS league,
    CASE WHEN l_orderkey % 37 = 0 THEN NULL
         ELSE CAST((l_orderkey + l_linenumber) % 7 AS INT) END AS home_score,
    CASE WHEN l_orderkey % 37 = 0 THEN NULL
         ELSE CAST((l_partkey + l_suppkey) % 7 AS INT) END AS away_score
  FROM lineitem
),
cleaned AS (
  SELECT
    CASE day_code WHEN 'Sa' THEN 'Saturday' WHEN 'Su' THEN 'Sunday' WHEN 'Mo' THEN 'Monday'
                  WHEN 'Tu' THEN 'Tuesday' ELSE day_code END AS day,
    CAST(dnum AS VARCHAR) || ' ' ||
      ['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec'][mon_num]
      || ' ' || CAST(CASE WHEN mon_num <= 7 THEN 2025 ELSE 2024 END AS VARCHAR) AS date,
    make_date(CASE WHEN mon_num <= 7 THEN 2025 ELSE 2024 END, mon_num, dnum) AS match_date,
    home_team, home_score, away_team, away_score, league,
    '2025-03-01 09:00:00' AS created_at,
    CAST(CASE WHEN home_score > away_score THEN 3
              WHEN home_score = away_score THEN 1 ELSE 0 END AS INT) AS result_home,
    CAST(CASE WHEN away_score > home_score THEN 3
              WHEN away_score = home_score THEN 1 ELSE 0 END AS INT) AS result_away
  FROM raw
  WHERE day_code <> 'Averages'
    AND make_date(CASE WHEN mon_num <= 7 THEN 2025 ELSE 2024 END, mon_num, dnum)
        < DATE '2025-03-01' - INTERVAL 1 DAY
)
"""


@register(
    "html_matches_extract",
    oracle="""
    -- The S1 scrape boundary, end to end: the engine renders
    -- soccerstats-shaped HTML pages from the synthesized rows, writes
    -- them out, and re-parses them with spark.read.text +
    -- regexp_extract_all (sources/html.py — the Spark-native stand-in
    -- for the reference's bs4 loop, dags/projectde_dag.py:27-57). A
    -- lossless round trip means parsed output == the synthesis
    -- expressions minus the extract-time junk skip, which is exactly
    -- this query.
    SELECT
      (CASE WHEN l_partkey % 11 = 0 THEN 'Zz'
            ELSE ['Sa','Su','Mo','Tu'][CAST(l_linenumber % 4 AS INT) + 1] END)
        || ' ' || CAST(1 + l_orderkey % 28 AS VARCHAR) || ' ' ||
        ['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec']
          [CAST(l_partkey % 12 AS INT) + 1] AS date,
      'CLUB_' || CAST(l_suppkey % 15 AS VARCHAR) AS home_team,
      CASE WHEN l_orderkey % 37 = 0 THEN 'pp.'
           ELSE CAST((l_orderkey + l_linenumber) % 7 AS VARCHAR) || ' - ' ||
                CAST((l_partkey + l_suppkey) % 7 AS VARCHAR) END AS score,
      'CLUB_' || CAST((l_suppkey + 1 + l_partkey % 14) % 15 AS VARCHAR) AS away_team,
      ['england','france','italy','germany','netherlands','spain']
        [CAST(l_orderkey % 6 AS INT) + 1] AS league
    FROM lineitem
    WHERE l_orderkey % 41 <> 0
    ORDER BY 1, 2, 3, 4, 5
    """,
    survey_ref="§2.1 S1 (HTML-table scrape source, executed parse) + §2.2 P2 (arity guard)",
)
def q_html_matches_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render → save → spark.read.text-parse round trip of the scrape
    source. The fixture lands in a per-SF scratch dir (overwritten each
    run — content is deterministic, only the parse output is graded)."""
    t = catalog.tables(spark, sf_dir)
    raw = synth_matches_raw(t["lineitem"])
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_html_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    html.write_html_fixture(raw, path)
    return html.read_html_matches(spark, path).orderBy(
        "date", "home_team", "score", "away_team", "league"
    )


@register(
    "matches_clean",
    oracle=_ORACLE_CLEANED_CTE
    + """
    SELECT day, date, CAST(match_date AS VARCHAR) AS match_date,
           home_team, home_score, away_team, away_score,
           league, created_at, result_home, result_away
    FROM cleaned
    ORDER BY match_date, home_team, away_team, home_score NULLS FIRST
    """,
    survey_ref="§2.2 P1-P5, §2.8 F1-F8/F10, §2.4 A4 (full cleaning pipeline)",
)
def q_matches_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    cleaned = clean_matches(
        synth_matches_raw(t["lineitem"]),
        season_start_year=2024,
        as_of_date=AS_OF,
        created_at=CREATED_AT,
    )
    # match_date as ISO string: Spark DateType surfaces as python date
    # objects while DuckDB dates arrive as pandas timestamps — string
    # output keeps the driver's value compare type-stable.
    return (
        cleaned.drop("id")
        .withColumn("match_date", F.col("match_date").cast("string"))
        .orderBy("match_date", "home_team", "away_team", F.asc_nulls_first("home_score"))
    )


@register(
    "reference_standings",
    oracle=_ORACLE_CLEANED_CTE
    + """
    , legs AS (
      SELECT league, home_team AS club, home_score AS gf, away_score AS ga, created_at
      FROM cleaned
      UNION ALL
      SELECT league, away_team AS club, away_score AS gf, home_score AS ga, created_at
      FROM cleaned
    ),
    agg AS (
      SELECT league, club,
             COUNT(*) AS match,
             CAST(SUM(CASE WHEN gf > ga THEN 1 ELSE 0 END) AS BIGINT) AS win,
             CAST(SUM(CASE WHEN gf = ga THEN 1 ELSE 0 END) AS BIGINT) AS draw,
             CAST(SUM(CASE WHEN gf > ga THEN 0 WHEN gf = ga THEN 0 ELSE 1 END) AS BIGINT)
               AS loss,
             CAST(COALESCE(SUM(gf), 0) AS BIGINT) AS goal_for,
             CAST(COALESCE(SUM(ga), 0) AS BIGINT) AS goal_against,
             MIN(created_at) AS created_at
      FROM legs
      GROUP BY league, club
    )
    SELECT CAST(ROW_NUMBER() OVER (
             PARTITION BY league
             ORDER BY 3*win + draw DESC, goal_for DESC, goal_against DESC,
                      win DESC, draw DESC, loss DESC, club ASC
           ) AS BIGINT) AS id,
           club, 3*win + draw AS points, match, win, draw, loss,
           goal_for, goal_against, goal_for - goal_against AS goal_diff,
           created_at, league
    FROM agg
    ORDER BY league, id
    """,
    survey_ref="§2.4 A3, §2.6 O1, §2.5 W2, §2.8 F12 (reference standings, native columns)",
)
def q_reference_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    cleaned = clean_matches(
        synth_matches_raw(t["lineitem"]),
        season_start_year=2024,
        as_of_date=AS_OF,
        created_at=CREATED_AT,
    )
    return league_standings(cleaned)
