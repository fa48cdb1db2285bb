"""Flagship query registration: league standings (SURVEY.md §2.4 A3, §2.6 O1, §2.5 W2).

The oracle SQL mirrors operators/standings.py exactly — including the
reference quirks (NULL-score → loss for both clubs; goal_against DESC
tiebreak; reference dags/projectde_dag.py:159-229) — so the value hash
matches. See operators/standings.py for the full provenance docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..operators.standings import NULL_SCORE_MOD, SCORE_MOD, standings
from ..registry import register

STANDINGS_ORACLE = f"""
WITH m AS (
  SELECT cn.n_name AS home_club,
         sn.n_name AS away_club,
         CASE WHEN l.l_orderkey % {NULL_SCORE_MOD} = 0 THEN NULL
              ELSE (l.l_orderkey + l.l_linenumber) % {SCORE_MOD} END AS home_score,
         CASE WHEN l.l_orderkey % {NULL_SCORE_MOD} = 0 THEN NULL
              ELSE (l.l_partkey + l.l_suppkey) % {SCORE_MOD} END AS away_score
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
),
legs AS (
  SELECT home_club AS club, home_score AS gf, away_score AS ga FROM m
  UNION ALL
  SELECT away_club AS club, away_score AS gf, home_score AS ga FROM m
),
agg AS (
  SELECT club,
         COUNT(*) AS played,
         CAST(SUM(CASE WHEN gf > ga THEN 1 ELSE 0 END) AS BIGINT) AS win,
         CAST(SUM(CASE WHEN gf = ga THEN 1 ELSE 0 END) AS BIGINT) AS draw,
         -- NULL scores fall through to loss for both clubs (reference quirk)
         CAST(SUM(CASE WHEN gf > ga THEN 0 WHEN gf = ga THEN 0 ELSE 1 END) AS BIGINT) AS loss,
         CAST(COALESCE(SUM(gf), 0) AS BIGINT) AS goal_for,
         CAST(COALESCE(SUM(ga), 0) AS BIGINT) AS goal_against
  FROM legs
  GROUP BY club
),
pointed AS (
  SELECT *, 3 * win + draw AS points FROM agg
)
SELECT r.r_name AS league,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY r.r_name
         ORDER BY points DESC, goal_for DESC, goal_against DESC,
                  win DESC, draw DESC, loss DESC, club ASC
       ) AS BIGINT) AS id,
       p.club, p.points, p.played, p.win, p.draw, p.loss,
       p.goal_for, p.goal_against,
       p.goal_for - p.goal_against AS goal_diff
FROM pointed p
JOIN nation n ON p.club = n.n_name
JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY league, id
"""


@register(
    "standings",
    oracle=STANDINGS_ORACLE,
    survey_ref="§2.4 A3, §2.6 O1, §2.5 W2, §2.3 J1",
)
def q_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return standings(catalog.tables(spark, sf_dir))
