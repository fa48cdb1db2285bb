"""Physical-plan introspection helpers.

The engine's 100 TB design rules (SURVEY.md §4) are stated as plan
properties — filters reach the scan, projections prune the read schema,
bounded dims broadcast, hot relational paths stay UDF-free inside
whole-stage codegen, shuffle count stays fixed as data grows. These
helpers turn each rule into an assertable fact so tests/test_plans.py
can pin them, instead of trusting that "Catalyst probably did it".

All helpers parse ``df.explain()`` output — the same artifact a human
reads — so assertions stay robust across Spark minor versions (node
names like ``Exchange``/``BroadcastHashJoin``/``PushedFilters`` are
stable public plan vocabulary).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
from collections import Counter

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters: [...]`` list in the scan nodes, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ``ReadSchema`` struct string (one per file scan)."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", explain_string(df))


def scanned_columns(df: DataFrame) -> set[str]:
    """Union of column names actually read from files across all scans."""
    cols: set[str] = set()
    for schema in read_schemas(df):
        cols.update(re.findall(r"(\w+):", schema))
    return cols


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    # one numbered detail header per node, as in python_eval_count; a
    # broadcast prints as ``BroadcastExchange``
    return len(re.findall(r"^\(\d+\) Exchange$", explain_string(df), re.MULTILINE))


def broadcast_join_count(df: DataFrame) -> int:
    return explain_string(df).count("BroadcastHashJoin")


def python_eval_count(df: DataFrame) -> int:
    """Python-boundary operators in the plan (row UDF / pandas stages).

    0 on a hot relational path = the UDF-free rule holds; mapInPandas
    operators (multimodal surface) legitimately report >0.
    """
    # formatted mode prints each node once in the tree and once in the
    # numbered detail section — count the detail headers only
    plan = explain_string(df)
    return len(
        re.findall(
            r"^\(\d+\) (?:BatchEvalPython|ArrowEvalPython|MapInPandas"
            r"|FlatMapGroupsInPandas|PythonMapInArrow)",
            plan,
            re.MULTILINE,
        )
    )


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan string; triggers execution."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def wholestage_codegen_ids(df: DataFrame) -> set[str]:
    """Distinct whole-stage-codegen span ids (``*(n)`` markers) in the
    final executed plan. Triggers execution — AQE's pre-run plan does
    not carry codegen annotations."""
    return set(re.findall(r"\*\((\d+)\)", executed_plan(df)))


def scan_counts(df: DataFrame) -> Counter[str]:
    """File scans per table (file name without extension) in the final
    plan only — the executed plan string also prints AQE's initial
    plan. Triggers execution."""
    final = executed_plan(df).split("== Initial Plan ==")[0]
    paths = re.findall(r"FileScan .*?Location: \w+\([^)]*\)\[([^,\]]+)", final)
    return Counter(os.path.splitext(os.path.basename(p.rstrip("/")))[0] for p in paths)
