"""stage_frame: the conf-selectable multi-consumer staging sink.

VERDICT r16 item 5: the localCheckpoint-vs-parquet swap documented at
every staging site must be code. Pin both sinks' value-equality, the
default (bench-shape-preserving) sink, and the parquet sink's hygiene
(unique per-call dir, no input-keyed naming = no cross-run caching),
and ``release``, which reaps superseded loop generations (ADVICE r17
item 1), and ``clusters.iterate``, the one loop driver that calls it.
"""

from __future__ import annotations

import os
import uuid

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


def _components(fn):
    return lambda v, e, k: fn(
        v.withColumnRenamed("id", "doc_id"),
        e.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")),
        max_iters=k,
    )


LOOPS = {
    "cc": _components(clusters.connected_components),
    "twostar": _components(clusters.connected_components_twostar),
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


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs on this thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_iterate_stages_init_stops_on_a_repeat_and_probes_without_a_job(spark):
    def init():  # a fresh frame per run: a re-run frame reuses its shuffles
        return spark.range(40).groupBy((F.col("id") % 8).alias("k")).agg(F.max("id").alias("v"))

    steps = []

    def halve(gen):
        steps.append(gen)
        return gen.groupBy("k").agg(F.max(F.shiftright("v", 1)).alias("v"))

    # max_iters=0 hands back the staged init and never steps
    out = clusters.iterate(init(), halve, 0, probe=[F.sum("v")])
    assert sorted(out.collect()) == sorted(init().collect()) and steps == []
    # v = 32..39, so v >> 6 is 0 for every k: six halvings reach sum 0,
    # the seventh repeats it and stops the loop far under the cap
    out = clusters.iterate(init(), halve, 50, probe=[F.sum("v")])
    assert len(steps) == 7 and out.agg(F.max("v")).first()[0] == 0
    # the probe rides the staging job: one probed generation runs the
    # jobs of an unprobed one
    plain = _jobs(spark, lambda: clusters.iterate(init(), halve, 1))
    probed = _jobs(
        spark,
        lambda: clusters.iterate(init(), halve, 1, probe=[F.sum("v")], done=lambda p, c: False),
    )
    assert probed == plain, f"{probed} jobs with a probe, {plain} without"


def _plan_graphs(spark, after: int) -> list[tuple[dict, dict]]:
    """(node names, child -> parents) of every SQL execution with an id
    above ``after``, from Spark's record of the executed (final
    adaptive) plans."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().reverseIterator()
    while it.hasNext():
        ex = it.next()
        if ex.executionId() <= after:
            break
        graph = store.planGraph(ex.executionId())
        names, parents = {}, {}
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            n = nodes.next()
            names[n.id()] = n.name()
        edges = graph.edges().iterator()
        while edges.hasNext():
            e = edges.next()
            parents.setdefault(e.fromId(), []).append(e.toId())
        out.append((names, parents))
    return out


def _ancestors(node: int, parents: dict) -> set[int]:
    seen, todo = set(), list(parents.get(node, []))
    while todo:
        i = todo.pop()
        if i not in seen:
            seen.add(i)
            todo += parents.get(i, [])
    return seen


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.last().executionId() if execs.nonEmpty() else -1


@pytest.mark.parametrize("sink", stage.SINKS)
def test_observed_probe_runs_in_the_result_stage(spark, tmp_path, sink):
    """``iterate``'s probe is an accumulator, so a retried task could
    double-count it into a wrong stop unless the observe node runs in
    the staging job's result stage, whose updates the DAGScheduler
    applies once per partition. In the executed plan of every probed
    generation of a components loop no Exchange sits above the
    CollectMetrics node; the generation's own shuffles sit below it."""
    spark.conf.set(stage.SINK_CONF, sink)
    spark.conf.set(stage.DIR_CONF, str(tmp_path))
    try:
        after = _last_execution_id(spark)
        v, e = _graph(spark, 12)
        LOOPS["cc"](v, e, 3).count()
        probed = below = 0
        for names, parents in _plan_graphs(spark, after):
            for node in [i for i, n in names.items() if n == "CollectMetrics"]:
                probed += 1
                above = [names[i] for i in _ancestors(node, parents)]
                assert not [n for n in above if "Exchange" in n], (
                    f"{sink}: {above} above CollectMetrics"
                )
                below += any(
                    "Exchange" in n and node in _ancestors(i, parents) for i, n in names.items()
                )
        assert probed >= 3, f"{sink}: {probed} observed generations"
        assert below, f"{sink}: no probed generation shuffles below its probe"
    finally:
        spark.conf.unset(stage.SINK_CONF)
        spark.conf.unset(stage.DIR_CONF)


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
