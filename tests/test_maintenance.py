"""Small-file compaction (sources/maintenance.py) and the incremental
materialized view (streaming/incremental.py) — the two table-upkeep
loops a long-lived lake actually runs."""

import glob

from pyspark.sql import functions as F

from data_engineer_8_final_project_spark import catalog
from data_engineer_8_final_project_spark.sources import maintenance
from data_engineer_8_final_project_spark.streaming import incremental


def test_compact_collapses_small_files(spark, sf_dir, tmp_path):
    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    orders = catalog.tables(spark, sf_dir)["orders"]
    orders.repartition(64).write.parquet(src)  # simulate a leaky sink
    assert len(glob.glob(f"{src}/*.parquet")) == 64

    n = maintenance.compact(spark, src, dst, target_bytes=10 * 1024 * 1024)
    files = glob.glob(f"{dst}/*.parquet")
    assert len(files) == n < 64
    got = spark.read.parquet(dst)
    assert got.count() == orders.count()
    assert (
        got.agg(F.sum("o_orderkey")).first()[0]
        == orders.agg(F.sum("o_orderkey")).first()[0]
    )


def test_compact_with_sort_clusters_ranges(spark, sf_dir, tmp_path):
    """Ranged compaction = disjoint per-file key ranges (footer min/max
    become pruning-tight on the sort column)."""
    import pyarrow.parquet as pq

    src, dst = str(tmp_path / "s2"), str(tmp_path / "c2")
    orders = catalog.tables(spark, sf_dir)["orders"]
    orders.repartition(16).write.parquet(src)
    maintenance.compact(
        spark, src, dst, target_bytes=16 * 1024, sort_by=["o_orderkey"]
    )
    ranges = []
    for f in glob.glob(f"{dst}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index("o_orderkey")
        stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) > 1
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint — no overlap between consecutive files


def test_incremental_view_refreshes_only_new_data_and_matches_batch(
    spark, sf_dir, tmp_path
):
    """Two refreshes (second after more files arrive, including rows
    'late' for windows already materialized) must converge to exactly
    the batch rollup — the MV never under- or double-counts."""
    events = catalog.tables(spark, sf_dir)["events"]
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    # parity split: both halves span the full time range, so refresh 2
    # updates windows refresh 1 already wrote (the late-data case)
    from data_engineer_8_final_project_spark.schemas import EVENTS

    events_raw = spark.read.schema(EVENTS).parquet(f"{sf_dir}/events.parquet")
    events_raw.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    incremental.maintain_hourly_counts(spark, src, view, ckpt)
    first = incremental.read_view(spark, view)
    assert 0 < first.count()

    events_raw.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    incremental.maintain_hourly_counts(spark, src, view, ckpt)

    got = incremental.read_view(spark, view).select(
        "hour", "event_type", "n_events", "value_cents"
    )
    want = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd-HH").alias("hour"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
