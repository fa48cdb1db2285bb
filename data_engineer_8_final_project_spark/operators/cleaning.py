"""Match-row cleaning pipeline — the reference's process_data re-expressed.

Mirrors reference dags/projectde_dag.py:60-131 declaratively: the
row-at-a-time Python loop (split date, map day codes, strip, infer
year, parse date, drop junk/future/unparseable rows, split scores with
NULL on malformed, derive 3/1/0 points, assign sequential ids) becomes
one lazy expression pipeline over a MATCH_RAW-shaped DataFrame —
whole-stage codegen, no Python UDFs (SURVEY.md §2.10 design rule).

Input shape: schemas.MATCH_RAW (date, home_team, score, away_team,
league) — e.g. ``'Sa 25 Jan'``, ``'2 - 1'``. Output: schemas.MATCH_CLEAN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import scalars
from . import standings

#: Junk sentinel rows dropped by the reference (dags/projectde_dag.py:46-47).
JUNK_DATES = ("Averages", "Percentages")
JUNK_TEAMS = ("Totals",)


def clean_matches(
    raw: DataFrame,
    season_start_year: int = 2024,
    as_of_date: str = "2025-03-01",
    created_at: str = "2025-03-01 09:00:00",
) -> DataFrame:
    """Raw scraped rows → cleaned match table (reference :60-131).

    Determinism deviations from the reference (FIXTURES.md rules):
    wall-clock inputs are parameters — ``as_of_date`` freezes the
    "strictly before yesterday" filter (reference :63-64,95-97),
    ``created_at`` freezes the audit timestamp (reference :120-122),
    ``season_start_year`` freezes year inference (reference :82-83).
    The sequential id (reference :117) is row_number over
    (match_date, home_team) — an explicit total order instead of the
    reference's irreproducible scrape order.
    """
    # P1: junk-row filter (set membership)
    df = raw.filter(
        ~F.col("date").isin(*JUNK_DATES) & ~F.col("home_team").isin(*JUNK_TEAMS)
    )

    # F1: split-first → day code + rest ('Sa 25 Jan' → 'Sa', '25 Jan')
    df = df.withColumn("day_code", scalars.day_code("date")).withColumn(
        "date_rest", scalars.date_remainder("date")  # F3: strip
    )

    # F2: day-code → day-name dictionary map with passthrough default
    df = df.withColumn("day", scalars.day_name("day_code"))

    # F4: month-based year inference (Jan–Jul → later season year)
    month = F.substring_index("date_rest", " ", -1)
    year = scalars.season_year(month, season_start_year)

    # F5+F6: concat '{d} {Mon} {yyyy}' then parse (NULL on failure — P4)
    date_str = scalars.compose_date_str(F.col("date_rest"), year)
    df = df.withColumn("date", date_str).withColumn(
        "match_date", scalars.parse_match_date(date_str)
    )

    # P4: drop unparseable dates; P3: keep strictly before (as_of - 1 day)
    df = df.filter(F.col("match_date").isNotNull()).filter(
        F.col("match_date") < F.date_sub(F.lit(as_of_date).cast("date"), 1)
    )

    # F7: score split on ' - ' → two nullable ints (NULL on malformed)
    df = df.withColumn("home_score", scalars.score_part("score", 0)).withColumn(
        "away_score", scalars.score_part("score", 1)
    )

    # A4/F8: per-row 3/1/0 points (NULL comparisons fall to 0 — loss)
    hs, aw = F.col("home_score"), F.col("away_score")
    df = df.withColumn("result_home", scalars.match_points(hs, aw)).withColumn(
        "result_away", scalars.match_points(aw, hs)
    )

    # F10: frozen audit timestamp (string, reference format)
    df = df.withColumn("created_at", scalars.frozen_created_at(created_at))

    # W1: deterministic sequential id per league (explicit total order)
    w = Window.partitionBy("league").orderBy("match_date", "home_team", "away_team")
    df = df.withColumn("id", F.row_number().over(w).cast("long"))

    # P5: reselect to the reference's column list/order (+match_date kept
    # typed — the reference stores the formatted string only)
    return df.select(
        "id",
        "day",
        "date",
        "match_date",
        "home_team",
        "home_score",
        "away_team",
        "away_score",
        "league",
        "created_at",
        "result_home",
        "result_away",
    )


def league_standings(clean: DataFrame) -> DataFrame:
    """Per-league standings from cleaned matches (reference :159-248).

    Runs the flagship's standings core (operators/standings.py) on the
    reference's own columns: the pair and club rollups keyed by league
    plus the frozen ``created_at`` (constant per run, so carrying it as
    a key equals the reference's first-row pick, :162), and the one
    rank window (6-key DESC sort incl. the goal_against-DESC quirk,
    club ASC appended for shuffle-stable ids).
    """
    by = ("league", "created_at")
    m = clean.select(
        *by,
        F.col("home_team").alias("home"),
        F.col("away_team").alias("away"),
        "home_score",
        "away_score",
    )
    return (
        standings.club_rollup(standings.pair_rollup(m, by), by)
        .select(
            standings.rank_id(),
            "club",
            "points",
            F.col("played").alias("match"),
            "win",
            "draw",
            "loss",
            "goal_for",
            "goal_against",
            "goal_diff",
            "created_at",
            "league",
        )
        .orderBy("league", "id")
    )
