"""Flagship operator: league-standings conditional aggregation.

Re-hosts the reference's standings pipeline (the imperative accumulator
at reference dags/projectde_dag.py:159-229: per-club match/win/draw/
loss/goal_for/goal_against/points rollup over the union of home-leg and
away-leg appearances, 6-key descending sort at :224-225, sequential id
at :226-228) onto the driver fixture star schema:

- a *match* is a lineitem row: home club = the ordering customer's
  nation, away club = the supplying supplier's nation;
- *league* = the region of the club's nation (the reference's per-league
  fan-out, reference dags/projectde_dag.py:275-286, becomes a partition
  column — SURVEY.md §3.1);
- *scores* are deterministic small ints derived from keys; ~2.7% of
  matches (``l_orderkey % 37 == 0``) get NULL scores, modelling the
  reference's unparseable ``'pp.'`` score strings
  (reference dags/projectde_dag.py:100-102).

Reference-quirk fidelity (SURVEY.md §4):

- a NULL-score match falls through to the *loss* branch for BOTH clubs
  (pandas NaN comparisons are all False → ``else: loss += 1``,
  reference dags/projectde_dag.py:180-181,207-208); NULL goals add 0;
- the tiebreak sorts ``goal_against`` DESCENDING too (the reference's
  semantic quirk at dags/projectde_dag.py:224-225);
- one deviation, required for determinism under shuffles: ``club ASC``
  is appended as the final tiebreak so ``row_number`` is reproducible
  (the reference inherited pandas insertion order — non-reproducible).

Scale design (the part that must survive 100 TB):

- The naive formulation (unpivot home/away legs with a UNION, then
  aggregate) makes Catalyst execute the scan+join tree TWICE — once per
  leg. Instead :func:`pair_rollup` aggregates FIRST on the (home, away)
  key pair — at most 25×25 = 625 groups for nation keys, so the
  map-side partial aggregation collapses ~everything and the shuffle
  moves a few hundred rows regardless of input size.
- :func:`club_rollup` then unpivots each pair row into its two club
  legs in ONE select (``inline`` over a two-struct array) and
  re-aggregates per club. Both legs come from the same pair row, so
  the plan scans and joins its input once.
- Win/draw/loss survive the two-level split because per pair we keep
  (n, n_home_win, n_away_win, n_draw): each leg derives its loss as
  n − win − draw, so NULL-score matches land there for both clubs (the
  quirk) whichever score is NULL.
- Only the genuinely-bounded dims (nation 25, region 5) get broadcast
  hints; customer/supplier join strategy is left to Catalyst/AQE (they
  grow with SF — hinting them broadcast would be a 100 TB lie).

The same core serves the flagship (``by=()``, nation-key clubs), its
stream (:func:`pair_rollup` as the stateful aggregation) and the
reference pipeline (``operators/cleaning.py``, ``by`` = its league and
frozen ``created_at``); :func:`rank_id` is the one rank window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Matches whose orderkey hits this modulus get NULL scores (malformed-score analogue).
NULL_SCORE_MOD = 37
#: Scores are key-derived ints in [0, SCORE_MOD).
SCORE_MOD = 7


def matches(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Synthesize the match table keyed by nation ids (names joined post-agg).

    Columns: home, away (nationkeys), home_score, away_score
    (scores nullable — the malformed-score analogue).
    """
    malformed = (F.col("l_orderkey") % NULL_SCORE_MOD) == 0
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            customer.select("c_custkey", F.col("c_nationkey").alias("home")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            supplier.select("s_suppkey", F.col("s_nationkey").alias("away")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "home",
            "away",
            F.when(malformed, F.lit(None).cast("long"))
            .otherwise((F.col("l_orderkey") + F.col("l_linenumber")) % SCORE_MOD)
            .alias("home_score"),
            F.when(malformed, F.lit(None).cast("long"))
            .otherwise((F.col("l_partkey") + F.col("l_suppkey")) % SCORE_MOD)
            .alias("away_score"),
        )
    )


def pair_rollup(match_df: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Level 1: per (*by, home, away) partial rollup of a match table
    with columns home, away, home_score, away_score.

    ≤ n_nations² groups per ``by`` key for the flagship — the shuffle is
    tiny at any scale, and the same aggregation runs unchanged as a
    streaming stateful aggregation (state = one fixed-width row per
    nation pair), which is how ``standings_stream`` keeps running
    standings over the replay.
    """
    hs, aw = F.col("home_score"), F.col("away_score")
    return match_df.groupBy(*by, "home", "away").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(hs > aw, 1).otherwise(0)).alias("n_home_win"),
        F.sum(F.when(aw > hs, 1).otherwise(0)).alias("n_away_win"),
        F.sum(F.when(hs == aw, 1).otherwise(0)).alias("n_draw"),
        F.coalesce(F.sum(hs), F.lit(0)).alias("sum_hs"),
        F.coalesce(F.sum(aw), F.lit(0)).alias("sum_as"),
    )


def club_rollup(pair: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Level 2: pair rows → two club legs in one select → per (*by, club)
    played/win/draw/loss/goal_for/goal_against/points/goal_diff."""
    n, draw = F.col("n"), F.col("n_draw")

    def leg(club: str, win: str, gf: str, ga: str) -> Column:
        # loss = everything else incl. NULL-score matches (reference quirk)
        return F.struct(
            F.col(club).alias("club"),
            F.col(win).alias("win"),
            (n - F.col(win) - draw).alias("loss"),
            F.col(gf).alias("gf"),
            F.col(ga).alias("ga"),
        )

    legs = pair.select(
        *by,
        "n",
        "n_draw",
        F.inline(
            F.array(
                leg("home", "n_home_win", "sum_hs", "sum_as"),
                leg("away", "n_away_win", "sum_as", "sum_hs"),
            )
        ),
    )
    return (
        legs.groupBy(*by, "club")
        .agg(
            F.sum("n").alias("played"),
            F.sum("win").alias("win"),
            F.sum("n_draw").alias("draw"),
            F.sum("loss").alias("loss"),
            F.sum("gf").alias("goal_for"),
            F.sum("ga").alias("goal_against"),
        )
        .withColumn("points", F.lit(3) * F.col("win") + F.col("draw"))
        .withColumn("goal_diff", F.col("goal_for") - F.col("goal_against"))
    )


def rank_id() -> Column:
    """Per-league rank id over a :func:`club_rollup` frame whose club
    column holds the club's name: the reference's 6-key DESC sort
    (goal_against DESC quirk) plus club ASC for shuffle-stable ids."""
    w = Window.partitionBy("league").orderBy(
        F.desc("points"),
        F.desc("goal_for"),
        F.desc("goal_against"),  # reference quirk: DESC, not ASC
        F.desc("win"),
        F.desc("draw"),
        F.desc("loss"),
        F.asc("club"),  # determinism tiebreak (engine addition)
    )
    return F.row_number().over(w).cast("long").alias("id")


def standings_from_pairs(pair: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Nation-keyed :func:`pair_rollup` output → named, ranked standings.

    Input is a few hundred rows at most, from either the batch path or
    a drained streaming sink.
    """
    league = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        F.col("n_nationkey").alias("club_key"),
        F.col("n_name").alias("club"),
        F.col("r_name").alias("league"),
    )
    return (
        club_rollup(pair)
        .withColumnRenamed("club", "club_key")
        .join(F.broadcast(league), "club_key")
        .select(
            "league",
            rank_id(),
            "club",
            "points",
            "played",
            "win",
            "draw",
            "loss",
            "goal_for",
            "goal_against",
            "goal_diff",
        )
        .orderBy("league", "id")
    )


def standings(tables: dict[str, DataFrame]) -> DataFrame:
    """End-to-end flagship: fixture tables → standings."""
    m = matches(tables["lineitem"], tables["orders"], tables["customer"], tables["supplier"])
    return standings_from_pairs(pair_rollup(m), tables["nation"], tables["region"])
