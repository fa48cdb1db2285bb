"""Z-order layout: multi-dimensional file skipping (sources/layout.py).

The measurable contract: after ``write_zordered`` on (x, y), a
selective predicate on EITHER dimension overlaps only a small fraction
of the output files' footer min/max ranges — whereas a linear sort on
x leaves y unclustered, so every file overlaps any y predicate. File
overlap is computed from the real parquet footers (pyarrow), i.e. the
exact statistics a 100 TB scan planner prunes with.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark.session import with_conf
from data_engineer_8_final_project_spark.sources import layout


def _footer_ranges(path: str, cols: list[str]) -> list[tuple[str, dict[str, tuple[int, int]]]]:
    """Per-file footer [min, max] for ``cols`` — the exact statistics a
    scan planner prunes with. Returned (not just counted) so a failing
    assertion can show WHICH file's range broke the clustering."""
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        sch = md.schema.to_arrow_schema()
        ranges = {}
        for col in cols:
            idx = sch.get_field_index(col)
            fmin = min(
                md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)
            )
            ranges[col] = (fmin, fmax)
        out.append((f.rsplit("/", 1)[-1], ranges))
    return out


def _files_overlapping(path: str, box: dict[str, tuple[int, int]]) -> int:
    """Count parquet files whose footer [min, max] ranges overlap the
    conjunctive box predicate — exactly the skip test a scan planner
    applies per file: prune iff ANY predicate column's range misses."""
    n = 0
    for _, ranges in _footer_ranges(path, list(box)):
        if all(ranges[c][1] >= lo and ranges[c][0] <= hi for c, (lo, hi) in box.items()):
            n += 1
    return n


@pytest.fixture(scope="module")
def grid_paths(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("zorder")
    zpath, xpath = str(base / "zordered"), str(base / "xsorted")
    # explicit input partitioning: the range sampler draws per input
    # partition, so the source layout must not depend on session state
    grid = spark.range(0, 256 * 256, 1, 32).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    layout.write_zordered(grid, zpath, ["x", "y"], n_files=16)
    # pin the same confs write_zordered pins, so the 1-D comparison
    # layout is immune to session state left by earlier test modules
    # (AQE coalesce merging range partitions changes the file count;
    # sparse range sampling makes boundaries depend on the session's
    # RDD-id counter, i.e. on which tests ran before this module)
    pins = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.execution.rangeExchange.sampleSizePerPartition": "1000000",
    }
    xsorted = grid.repartitionByRange(16, "x").sortWithinPartitions("x")
    with_conf(xsorted, pins).write.mode("overwrite").parquet(xpath)
    return zpath, xpath


def test_zorder_preserves_rows(spark, grid_paths):
    zpath, _ = grid_paths
    got = spark.read.parquet(zpath)
    assert got.count() == 256 * 256
    assert got.agg(F.sum("payload")).first()[0] == (256 * 256 - 1) * (256 * 256) // 2
    assert len(glob.glob(f"{zpath}/*.parquet")) == 16


def test_zorder_prunes_on_second_dimension(grid_paths):
    """y-only predicate: x-sorted layout cannot skip any file; Z-order
    confines a 1/4-range y slice to the files of that y band."""
    zpath, xpath = grid_paths
    assert _files_overlapping(xpath, {"y": (0, 63)}) == 16
    assert _files_overlapping(zpath, {"y": (0, 63)}) <= 6, _footer_ranges(zpath, ["y"])


def test_zorder_prunes_on_both_dimensions(grid_paths):
    """Box predicate on (x, y): Z-order isolates the quadrant-of-
    quadrant; the x-sorted layout only prunes along x.

    Guaranteed bound: with dense-sampled range bounds (pinned in
    ``write_zordered``) the 16 files split the Morton keyspace at exact
    4096-row quantiles, and the (0,63)^2 box is precisely the curve's
    first 4096 keys — so it lands in file 0 plus at most one boundary
    neighbor. The x-sorted layout overlaps exactly 4 files (64/256 of
    the x range over 16 files). On failure the assertion prints every
    file's footer ranges so the broken boundary is visible."""
    zpath, xpath = grid_paths
    box = {"x": (0, 63), "y": (0, 63)}
    x_files = _files_overlapping(xpath, box)
    z_files = _files_overlapping(zpath, box)
    diag = (x_files, z_files, _footer_ranges(zpath, ["x", "y"]))
    assert z_files < x_files, diag  # 2-D clustering beats 1-D on the box query
    assert z_files <= 2, diag


def test_zvalue_interleaves_bits(spark):
    """Morton-code ground truth on hand-checkable points (bits=2):
    (x=1, y=0) -> 0b0001, (x=0, y=1) -> 0b0010, (x=3, y=3) -> 0b1111."""
    df = spark.createDataFrame([(1, 0), (0, 1), (3, 3)], "x long, y long")
    got = [
        r.z
        for r in df.select(
            layout.zvalue([F.col("x"), F.col("y")], bits=2).alias("z")
        ).collect()
    ]
    assert got == [0b0001, 0b0010, 0b1111]
