"""Round-5 sampling operators: per-key cap, temperature mixing.

Both are deterministic (md5-keyed, no RNG) — the tests pin the
properties the oracle hash can't see: partitioning-invariance of the
two-phase cap, and the shape constraints of the temperature rates.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark import catalog
from data_engineer_8_final_project_spark.operators import sampling


def test_per_key_cap_matches_single_window(spark, sf_dir):
    """The skew-proof two-phase rank must equal the textbook single
    global window for ANY input partitioning (the phase-1 partition cut
    may keep different candidate sets, but the global top-cap per key
    is invariant)."""
    docs = catalog.tables(spark, sf_dir)["documents"]
    want_df = (
        docs.select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("_pick"),
        )
        .withColumn(
            "pick_rank",
            F.row_number()
            .over(Window.partitionBy("source").orderBy("_pick", "doc_id"))
            .cast("long"),
        )
        .filter(F.col("pick_rank") <= 7)
        .select("doc_id", "source", "pick_rank")
    )
    want = sorted(map(tuple, want_df.collect()))
    for n_parts in (1, 3, 16):
        got = sorted(
            map(
                tuple,
                sampling.per_key_cap(
                    docs.repartition(n_parts), key_col="source", cap=7
                ).collect(),
            )
        )
        assert got == want, f"two-phase cap diverged at {n_parts} partitions"


def test_per_key_cap_never_exceeds_cap(spark, sf_dir):
    docs = catalog.tables(spark, sf_dir)["documents"]
    out = sampling.per_key_cap(docs, key_col="lang", cap=3)
    per_key = out.groupBy("lang").count().collect()
    assert per_key and all(r["count"] <= 3 for r in per_key)


def test_temperature_rates_monotone_and_bounded(spark, sf_dir):
    """sqrt-temperature rates: bounded to [0, 10000] basis points, and
    UP-weighting small sources relative to proportional sampling — the
    defining property of temperature < 1 (a source's sampled share
    exceeds its corpus share iff the source is smaller than average)."""
    docs = catalog.tables(spark, sf_dir)["documents"]
    # skew the corpus: drop most of src0 so sources differ in size
    # (src0's doc_ids are the multiples of 20 — keep only the
    # multiples of 100, i.e. every fifth src0 doc)
    skewed = docs.filter(
        (F.col("source") != "src0") | (F.col("doc_id") % 100 == 0)
    )
    out = sampling.temperature_mixture_sample(skewed, stratum_col="source", target=200)
    rates = (
        out.select("stratum", "wt_bp", "rate_bp").distinct().collect()
    )
    assert rates and all(0 <= r.rate_bp <= 10000 for r in rates)
    by_src = {r.stratum: r for r in rates}
    # src0 is now the small source: its acceptance RATE must exceed any
    # big source's rate (same target share spread over fewer docs)
    big_rates = [r.rate_bp for s, r in by_src.items() if s != "src0"]
    if "src0" in by_src and big_rates:
        assert by_src["src0"].rate_bp > max(big_rates)


def test_temperature_sample_deterministic_across_partitioning(spark, sf_dir):
    docs = catalog.tables(spark, sf_dir)["documents"]
    a = sorted(
        map(tuple, sampling.temperature_mixture_sample(docs).collect())
    )
    b = sorted(
        map(
            tuple,
            sampling.temperature_mixture_sample(docs.repartition(13)).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_cluster_balanced_sample_caps_every_cluster(spark, sf_dir):
    """Learned-key quota: every k-means cluster contributes at most
    ``cap`` rows, pick_rank is dense 1..n within each cluster, the
    surviving (vec_id → cluster) assignment agrees with the standalone
    k-means run, and membership is invariant to input partitioning."""
    emb = catalog.tables(spark, sf_dir)["embeddings"]
    out = sampling.cluster_balanced_sample(emb, k=4, rounds=2, cap=30)
    rows = out.collect()
    assert rows
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r.pick_rank)
    for c, ranks in by_cluster.items():
        assert len(ranks) <= 30, f"cluster {c} over cap"
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), c
    # assignment agrees with the standalone Lloyd run
    from data_engineer_8_final_project_spark.operators import clusters

    full = {
        r.vec_id: r.cluster
        for r in clusters.kmeans_fixed_point(emb, k=4, rounds=2).collect()
    }
    assert all(full[r.vec_id] == r.cluster for r in rows)
    # partitioning-invariant membership
    again = sorted(
        map(
            tuple,
            sampling.cluster_balanced_sample(
                emb.repartition(13), k=4, rounds=2, cap=30
            ).collect(),
        )
    )
    assert again == sorted(map(tuple, rows))
