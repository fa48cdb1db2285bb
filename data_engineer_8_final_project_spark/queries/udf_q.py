"""Sanctioned Python-boundary surface (SURVEY.md §2.10), oracle-gated.

The engine's §2.10 rule is "zero Python UDFs for reference parity" —
everything the reference computes row-at-a-time is built-ins here. But
the reference's ``df.apply(lambda row: ...)`` habit (reference
dags/projectde_dag.py:128-129) represents a real user need: custom
logic the built-ins can't express. Spark's sanctioned escape hatches
are demonstrated here, one query each, all Arrow-vectorized where the
API allows and all value-verified against DuckDB:

- grouped-agg ``pandas_udf`` (vectorized UDAF) — per-group median;
- ``applyInPandas`` (grouped map) — per-group min-max normalization;
- Python UDTF (Spark 4 table function) — positional tokenizer in a
  LATERAL join.

None of these appear on relational hot paths (pinned by
tests/test_plans.py); they exist so a user who genuinely needs custom
Python logic has a tested, scale-shaped template: one Arrow exchange,
grouped by a key whose cardinality bounds state, no driver collect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql import types as T

from .. import catalog
from ..registry import register

# Type objects, not DDL strings: executors re-import this module when
# deserializing the UDFs, and parsing a DDL string needs an active
# SparkSession (absent on workers). StructType/DoubleType construct
# without one.
_NORM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("norm_chars", T.DoubleType()),
    ]
)
_TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.IntegerType()),
        T.StructField("token", T.StringType()),
    ]
)


@pandas_udf(T.DoubleType())
def _median_udaf(v: pd.Series) -> float:
    """Vectorized UDAF: exact median (Arrow-batched GROUPED_AGG).

    Median interpolates the midpoint on even counts exactly like
    DuckDB's MEDIAN over integers, so the oracle hash-matches without
    float rounding (values are k or k+0.5, both exact doubles).
    """
    return float(v.median())


@register(
    "doc_median_length_udaf",
    oracle="""
    -- Grouped-agg pandas UDAF vs native MEDIAN: exact midpoint
    -- interpolation over integer char counts.
    SELECT lang, MEDIAN(n_chars) AS median_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    survey_ref="§2.10 widening: vectorized UDAF (grouped-agg pandas_udf)",
)
def q_doc_median_length_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF path shuffles once on the group key and streams Arrow
    batches per group — state is one Series per (group, batch), never
    the whole table. Cardinality of ``lang`` bounds the reduce side."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang")
        .agg(_median_udaf("n_chars").alias("median_chars"))
        .orderBy("lang")
    )


def _minmax_norm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: min-max normalize n_chars within the group.

    Integer inputs make (x - min) and (max - min) exact; the single
    IEEE division then produces bit-identical doubles to the oracle's
    windowed formulation — no rounding needed for hash parity.
    """
    lo, hi = pdf["n_chars"].min(), pdf["n_chars"].max()
    out = pdf[["doc_id", "lang"]].copy()
    out["norm_chars"] = (pdf["n_chars"] - lo) / (hi - lo) if hi > lo else None
    return out


@register(
    "doc_norm_length_grouped",
    oracle="""
    -- applyInPandas grouped map vs windowed min-max normalization.
    SELECT doc_id, lang,
           (n_chars - MIN(n_chars) OVER (PARTITION BY lang))
             / NULLIF(MAX(n_chars) OVER (PARTITION BY lang)
                      - MIN(n_chars) OVER (PARTITION BY lang), 0) AS norm_chars
    FROM documents
    ORDER BY doc_id
    """,
    survey_ref="§2.10 widening: grouped-map applyInPandas",
)
def q_doc_norm_length_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Arrow exchange grouped by lang; each group is a pandas frame
    small enough to hold (per-group size is the scale contract of every
    applyInPandas — for unbounded groups use window functions instead,
    as the oracle's formulation shows)."""
    t = catalog.tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", "lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(_minmax_norm, _NORM_SCHEMA)
        .orderBy("doc_id")
    )


@udtf(returnType=_TOKEN_SCHEMA, useArrow=True)
class _Tokenize:
    """Python UDTF (Spark 4 table function): positional tokenizer.

    ``useArrow=True`` plans as ArrowEvalPythonUDTF — Arrow batch
    transfer across the Python boundary instead of pickled rows, the
    same vectorized transport the pandas UDF/UDAF surfaces use (and
    the registry-wide plan lint bans the pickled BatchEvalPython form
    outright).

    Splits on the literal single space — the same contract as the
    oracle's string_split — and emits 1-based positions.
    """

    def eval(self, text: str):
        if text is None:
            return
        for i, tok in enumerate(text.split(" ")):
            yield i + 1, tok


@register(
    "doc_tokens_udtf",
    oracle="""
    -- Python UDTF lateral join vs zip-unnest with ordinality.
    SELECT doc_id,
           UNNEST(generate_series(1, len(parts))) AS pos,
           UNNEST(parts) AS token
    FROM (
      SELECT doc_id, string_split(text, ' ') AS parts
      FROM documents WHERE doc_id % 20 = 0
    ) t
    ORDER BY doc_id, pos
    """,
    survey_ref="§2.10 widening: Python UDTF (lateral table function)",
)
def q_doc_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL UDTF application — each input row fans out to token
    rows inside the task, no shuffle until the final presentation sort.
    The doc_id sample keeps driver-compare volumes bounded; the UDTF
    itself streams, so the full-corpus variant is the same plan."""
    t = catalog.tables(spark, sf_dir)
    spark.udtf.register("tokenize_pos", _Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM {docs} d, LATERAL tokenize_pos(d.text) t
        ORDER BY d.doc_id, t.pos
        """,
        docs=t["documents"].filter("doc_id % 20 = 0"),
    )
