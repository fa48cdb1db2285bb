"""stage_frame: the conf-selectable multi-consumer staging sink.

VERDICT r16 item 5: the localCheckpoint-vs-parquet swap documented at
every staging site must be code. Pin both sinks' value-equality, the
default (bench-shape-preserving) sink, and the parquet sink's hygiene
(unique per-call dir, no input-keyed naming = no cross-run caching).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark import stage


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
        dirs = [d for d in os.listdir(tmp_path) if d.startswith("spark_graft_stage_")]
        assert len(dirs) == 2, "each call must stage into its own dir"
        # dir names key on (pid, seq) only — never on any input path
        for d in dirs:
            assert str(os.getpid()) in d
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
