"""stage_frame: the conf-selectable multi-consumer staging sink.

VERDICT r16 item 5: the localCheckpoint-vs-parquet swap documented at
every staging site must be code. Pin both sinks' value-equality, the
default (bench-shape-preserving) sink, and the parquet sink's hygiene
(unique per-call dir, no input-keyed naming = no cross-run caching),
and ``release``, which reaps superseded loop generations (ADVICE r17
item 1).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark import stage
from data_engineer_8_final_project_spark.operators import clusters
from data_engineer_8_final_project_spark.parity import check_query


def test_default_sink_is_local_checkpoint(spark):
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    out = stage.stage_frame(df)
    # localCheckpoint yields a lineage-free frame with identical rows
    assert out.exceptAll(df).count() == 0 and df.exceptAll(out).count() == 0
    assert "ExistingRDD" in out._jdf.queryExecution().optimizedPlan().toString() or (
        out.count() == 100
    )


def test_parquet_sink_roundtrips_and_uses_unique_dirs(spark, tmp_path):
    df = spark.range(50).select(
        "id", F.md5(F.col("id").cast("string")).alias("h")
    )
    spark.conf.set(stage.SINK_CONF, "parquet")
    spark.conf.set(stage.DIR_CONF, str(tmp_path))
    try:
        a = stage.stage_frame(df)
        b = stage.stage_frame(df)
        assert a.exceptAll(df).count() == 0 and df.exceptAll(a).count() == 0
        root = stage.root(spark)
        assert os.path.dirname(root) == str(tmp_path), "stages go under the conf'd base"
        # names key on (pid, seq) only — never on any input path
        assert os.path.basename(root).startswith(f"spark_graft_{os.getpid()}_")
        dirs = [d for d in os.listdir(root) if d.startswith("stage_")]
        assert len(dirs) == 2, "each call must stage into its own dir"
        assert b.count() == 50
    finally:
        spark.conf.unset(stage.SINK_CONF)
        spark.conf.unset(stage.DIR_CONF)


def test_unknown_sink_raises_naming_the_allowed_values(spark):
    df = spark.range(10)
    spark.conf.set(stage.SINK_CONF, "localcheckpoint")  # wrong case
    try:
        with pytest.raises(ValueError, match="localCheckpoint, parquet"):
            stage.stage_frame(df)
    finally:
        spark.conf.unset(stage.SINK_CONF)


@pytest.fixture
def parquet_sink(spark, tmp_path):
    spark.conf.set(stage.SINK_CONF, "parquet")
    spark.conf.set(stage.DIR_CONF, str(tmp_path))
    yield lambda: {d for d in os.listdir(stage.root(spark)) if d.startswith("stage_")}
    spark.conf.unset(stage.SINK_CONF)
    spark.conf.unset(stage.DIR_CONF)


def test_release_removes_a_parquet_stage_only(spark, parquet_sink):
    a = stage.stage_frame(spark.range(5))
    (d,) = parquet_sink()
    stage.release(a)
    assert parquet_sink() == set(), f"{d} must be removed"
    stage.release(a)  # twice: no-op
    spark.conf.set(stage.SINK_CONF, "localCheckpoint")
    c = stage.stage_frame(spark.range(5))
    stage.release(c)  # no-op: blocks are GC'd
    assert c.count() == 5


def _graph(spark, n: int):
    """A path 0-1-...-(n-1): diameter n-1, so no loop converges early."""
    vertices = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    return vertices, edges


LOOPS = {
    "twostar": lambda v, e, k: clusters.connected_components_twostar(
        v.withColumnRenamed("id", "doc_id"),
        e.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")),
        max_iters=k,
    ),
    "pagerank": lambda v, e, k: clusters.pagerank_fixed_point(
        v, e, until_stable=True, max_iters=k, tol_units=-1
    ),
    "lpa": lambda v, e, k: clusters.label_propagation_fixed(v, e, iters=k),
    "lpa_stable": lambda v, e, k: clusters.label_propagation_fixed(
        v, e, until_stable=True, max_iters=k
    ),
    "bfs": lambda v, e, k: clusters.bfs_hops_fixed(v, e, source=0, iters=k),
    "kcore": lambda v, e, k: clusters.kcore_fixed(v, e, core_k=2, rounds=k),
}


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_loop_stage_dirs_do_not_grow_with_iterations(spark, parquet_sink, loop):
    """ADVICE r17 item 1: under the parquet sink every superseded loop
    generation is released, so the dirs a loop leaves behind do not
    depend on how many rounds it ran."""
    v, e = _graph(spark, 12)
    left = []
    for k in (2, 6):
        before = parquet_sink()
        out = LOOPS[loop](v, e, k)
        out.count()  # the result still reads its (kept) last generation
        left.append(len(parquet_sink() - before))
    assert left[0] == left[1], f"{loop}: {left[0]} dirs at 2 rounds, {left[1]} at 6"


@pytest.mark.parametrize(
    "name",
    [
        "curation_pipeline",
        "dup_cluster_representatives",
        "dup_clusters",
        "dup_clusters_twostar",
        "knn_bfs_hops",
        "knn_communities",
        "knn_kcore",
        "knn_pagerank",
        "leakage_safe_split",
    ],
)
def test_loop_queries_match_oracle_under_parquet_sink(spark, sf_dir, parquet_sink, name):
    res = check_query(spark, name, sf_dir)
    assert res.ok, f"{name}: {res.detail}"
