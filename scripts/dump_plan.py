"""Dump ``explain('formatted')`` for named registry queries to files.

Usage::

    python scripts/dump_plan.py <query> [...] --sf-dir <fixture dir> --out <dir> --suffix before

Writes ``<out>/<query>_<suffix>.txt`` per query, from the default
engine session (local[$SPARK_GRAFT_CPUS]) over the fixture tables in
``--sf-dir``. Plan shape (Exchange count, join strategy,
PushedFilters/ReadSchema) is what a plan change argues from.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from data_engineer_8_final_project_spark.registry import all_queries
    from data_engineer_8_final_project_spark.session import get_spark

    spark = get_spark(app_name="dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    os.makedirs(os.path.join(REPO, args.out), exist_ok=True)
    for name in args.queries:
        df = queries[name].fn(spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(REPO, args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exchange = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, {n_exchange} Exchange -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
