"""HTML-table scrape source (SURVEY.md §2.1 S1) — Spark-native parse.

The reference's most-used entry point scrapes soccerstats results pages
with bs4: find every ``<tr class="odd">``, take the first 4 ``<td>``
cells' stripped text, skip junk/short rows (reference
dags/projectde_dag.py:27-57, spark-scripts/spark-project.py:4-50).
That is a driver-side, single-machine parse; here the same semantics
run distributed: ``spark.read.text`` over saved HTML (one ``<tr>`` per
line, which is how the engine's own renderer lays fixtures out) +
``regexp_extract_all`` for the cells + a regex tag-strip standing in
for bs4's ``get_text(strip=True)``.

Deviations, both deliberate:

- the reference carries ``league`` as a URL parameter outside the
  document; the engine inlines it as a 5th ``<td>`` so the parsed row
  is self-contained (and the arity guard becomes ≥5 cells);
- no live HTTP — the fixture renderer below produces
  soccerstats-shaped pages deterministically from fixture keys, so the
  parse is oracle-verifiable (FIXTURES.md determinism rules).

At 100 TB the unit of parallelism is files/lines: a crawl dump of
millions of saved pages splits across executors by input split with no
driver involvement, unlike the reference's in-driver bs4 loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: ``<td>`` content matcher (group 1 = inner HTML, non-greedy).
_TD_PATTERN = "<td[^>]*>(.*?)</td>"
#: Marker for match rows — the same class bs4 selects on.
_ODD_ROW = '<tr[^>]*class="odd"'


def _strip_tags(c: Column) -> Column:
    """bs4 ``get_text(strip=True)`` equivalent: drop inner tags, trim."""
    return F.trim(F.regexp_replace(c, "<[^>]+>", ""))


def render_matches_html(raw: DataFrame) -> DataFrame:
    """MATCH_RAW rows → one soccerstats-shaped ``<tr>`` line per match.

    Returns a single ``value: string`` column ready for ``write.text``.
    The score cell is wrapped in ``<b>`` (results pages embellish cells
    with inner tags) so the parser's tag-strip is actually exercised;
    three deterministic noise lines — a non-odd header row, an odd row
    with too few cells, and a bare separator — are appended to exercise
    the class filter and the arity guard.
    """
    line = F.concat(
        F.lit('<tr class="odd"><td>'),
        F.col("date"),
        F.lit("</td><td>"),
        F.col("home_team"),
        F.lit("</td><td><b>"),
        F.col("score"),
        F.lit("</b></td><td>"),
        F.col("away_team"),
        F.lit("</td><td>"),
        F.col("league"),
        F.lit("</td></tr>"),
    )
    noise = raw.sparkSession.createDataFrame(
        [
            ('<tr class="trow2"><td>Date</td><td>Home</td><td>Score</td><td>Away</td><td>League</td></tr>',),
            ('<tr class="odd"><td>Averages</td><td>2.31</td></tr>',),
            ("<table><tbody>",),
        ],
        "value string",
    )
    return raw.select(line.alias("value")).unionByName(noise)


def read_html_matches(spark: SparkSession, path: str) -> DataFrame:
    """Parse saved results pages → MATCH_RAW-shaped rows.

    Mirrors the reference's extract_web row for row: class filter
    (``tr.odd`` only), cell extraction with tag-strip, arity guard
    (≥5 cells here — league rides as the 5th), junk-row skip
    (``Averages``/``Percentages`` dates, ``Totals`` home teams;
    reference dags/projectde_dag.py:46-47).
    """
    tds = F.expr(f"regexp_extract_all(value, '{_TD_PATTERN}', 1)")
    return (
        spark.read.text(path)
        .filter(F.col("value").rlike(_ODD_ROW))
        .select(tds.alias("tds"))
        .filter(F.size("tds") >= 5)
        .select(
            _strip_tags(F.element_at("tds", 1)).alias("date"),
            _strip_tags(F.element_at("tds", 2)).alias("home_team"),
            _strip_tags(F.element_at("tds", 3)).alias("score"),
            _strip_tags(F.element_at("tds", 4)).alias("away_team"),
            _strip_tags(F.element_at("tds", 5)).alias("league"),
        )
        .filter(
            ~F.col("date").isin("Averages", "Percentages")
            & ~F.col("home_team").isin("Totals")
        )
    )
