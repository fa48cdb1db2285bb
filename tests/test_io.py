"""Sources/sinks: schema-explicit CSV, partitioned parquet with dynamic
partition overwrite, DDL helpers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineer_8_final_project_spark.sources import io as eio

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("league", T.StringType(), True),
    ]
)


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], SCHEMA)
    path = str(tmp_path / "csv_out")
    eio.write_csv(df, path, single_file=True)
    back = eio.read_csv(spark, path, SCHEMA)
    assert sorted(back.collect()) == sorted(df.collect())
    # single_file=True -> exactly one part file
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 1


def test_partitioned_parquet_dynamic_overwrite(spark, tmp_path):
    path = str(tmp_path / "pq")
    df1 = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], SCHEMA)
    eio.write_parquet_partitioned(df1, path, "league")
    # overwrite ONLY league=x; league=y must survive (dynamic mode)
    df2 = spark.createDataFrame([(9, "z", "x")], SCHEMA)
    eio.write_parquet_partitioned(df2, path, "league")
    back = eio.read_parquet(spark, path)
    got = {(r["k"], r["league"]) for r in back.collect()}
    assert got == {(9, "x"), (2, "y")}


def test_ddl_helpers(spark, tmp_path):
    eio.create_database(spark, "warehouse_test")
    df = spark.createDataFrame([(1, "a", "x")], SCHEMA)
    eio.create_table_as(spark, "warehouse_test.t1", df)
    assert spark.table("warehouse_test.t1").count() == 1
    # idempotent overwrite
    eio.create_table_as(spark, "warehouse_test.t1", df)
    assert spark.table("warehouse_test.t1").count() == 1
    spark.sql("DROP TABLE warehouse_test.t1")
    spark.sql("DROP DATABASE warehouse_test")


def test_csv_permissive_malformed_rows(spark, tmp_path):
    """S2 robustness: malformed rows must yield NULLs (PERMISSIVE), not
    abort the read — the declarative analogue of the reference's
    silent row-drop on parse failure."""
    from pyspark.sql import types as T

    from data_engineer_8_final_project_spark.sources import io as eio

    p = tmp_path / "retail.csv"
    p.write_text(
        "InvoiceNo,Quantity,UnitPrice\n"
        "A1,5,9.99\n"
        "A2,not_a_number,1.50\n"   # bad int
        "A3,7,oops\n"              # bad float
    )
    schema = T.StructType(
        [
            T.StructField("InvoiceNo", T.StringType()),
            T.StructField("Quantity", T.IntegerType()),
            T.StructField("UnitPrice", T.DoubleType()),
        ]
    )
    rows = {r.InvoiceNo: (r.Quantity, r.UnitPrice) for r in eio.read_csv(
        spark, str(p), schema).collect()}
    assert rows["A1"] == (5, 9.99)
    assert rows["A2"][0] is None and rows["A2"][1] == 1.50
    assert rows["A3"][0] == 7 and rows["A3"][1] is None


def test_json_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from data_engineer_8_final_project_spark.sources import io as eio

    p = tmp_path / "rows.jsonl"
    p.write_text('{"id": 1, "name": "a"}\n{"id": 2, "name": null}\n{"id": "bad"}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    rows = {r.id: r.name for r in eio.read_json(spark, str(p), schema).collect()}
    # PERMISSIVE default: malformed field -> NULL row values, no abort
    assert rows[1] == "a" and rows[2] is None and None in rows


def test_jdbc_roundtrip_derby_embedded(spark, sf_dir, tmp_path):
    """Executed S5/S7: write_jdbc -> read_jdbc against Derby embedded.

    The Derby jars ship on Spark's own classpath (metastore
    dependency), so the standard spark.read/write.jdbc path runs for
    real — no vendored driver. Embedded Derby is single-JVM (fine in
    local mode; a cluster would point the same wiring at a networked
    warehouse), and mode('overwrite') exercises the reference's
    drop-and-replace refresh semantics (dags/projectde_dag.py:134-155).
    """
    from data_engineer_8_final_project_spark import catalog
    from data_engineer_8_final_project_spark.sources import io as eio

    url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nation = catalog.tables(spark, sf_dir)["nation"]
    eio.write_jdbc(nation, url, "nation_sink", properties=props)
    back = eio.read_jdbc(spark, url, "nation_sink", properties=props)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    # full-refresh overwrite: second write replaces, never appends
    eio.write_jdbc(nation.limit(5), url, "nation_sink", properties=props)
    assert eio.read_jdbc(spark, url, "nation_sink", properties=props).count() == 5


def test_orc_roundtrip(spark, tmp_path):
    from data_engineer_8_final_project_spark.sources import io as eio

    df = spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], SCHEMA)
    path = str(tmp_path / "orc_out")
    eio.write_orc(df, path)
    back = eio.read_orc(spark, path)
    assert sorted(back.collect()) == sorted(df.collect())
    # pushdown reaches the ORC scan like parquet
    assert back.filter(back.k == 2).count() == 1


def test_binary_file_source_reads_blobs(spark, tmp_path):
    from data_engineer_8_final_project_spark.sources import io as eio

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "b.bin").write_bytes(b"payload")
    (tmp_path / "skip.txt").write_text("not matched")
    rows = eio.read_binary_files(spark, str(tmp_path), glob="*.bin").collect()
    got = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in rows}
    assert got == {"a.bin": b"\x00\x01\x02", "b.bin": b"payload"}
    assert all(r.length == len(bytes(r.content)) for r in rows)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read across files with evolved schemas: the added
    column surfaces as NULL for old files instead of failing the scan —
    the contract a long-lived 100 TB lake needs for additive evolution."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode("append").parquet(p)
    spark.createDataFrame(
        [(2, "b", "en")], "id long, name string, lang string"
    ).write.mode("append").parquet(p)
    got = {r.id: r.lang for r in spark.read.option("mergeSchema", "true").parquet(p).collect()}
    assert got == {1: None, 2: "en"}


def test_json_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE-mode ingest: malformed lines land in _corrupt_record
    instead of failing the scan; the ingest gate splits clean rows from
    the quarantine — the contract a 100 TB landing zone needs (one bad
    producer must not kill the nightly load)."""
    from pyspark.sql import types as T

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{not json at all}\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "wrong type", "name": 3}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()  # Spark requires materializing before querying _corrupt_record alone
    )
    clean = df.filter(F.col("_corrupt_record").isNull())
    quarantine = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in clean.collect()) == [1, 2]
    assert quarantine.count() == 2
    df.unpersist()


def test_events_ts_matches_duckdb_oracle(spark, sf_dir):
    """Pin the events timestamp read against the DuckDB oracle.

    The driver regenerated the events fixture between rounds, moving
    ``ts`` from INT64-nanoseconds to parquet TIMESTAMP(µs); the stale
    nanos read path collapsed every event onto 1970-01-20 with no error
    (14 red queries across rounds 3-4). This test fails on ANY silent
    encoding/read drift: engine min/max/count must equal DuckDB's on
    the same file, to the microsecond.
    """
    import duckdb

    from data_engineer_8_final_project_spark import catalog

    events = catalog.load_table(spark, sf_dir, "events")
    got = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    lo, hi, n = duckdb.sql(
        f"select min(ts), max(ts), count(*) from '{sf_dir}/events.parquet'"
    ).fetchall()[0]
    assert (got.lo, got.hi, got.n) == (lo, hi, n)


def test_events_fixture_format_tripwire(spark, tmp_path):
    """A re-encoded events fixture (e.g. back to INT64-nanos) must raise
    a loud, explained error at the read site — never wrong answers."""
    import pytest as _pytest

    from data_engineer_8_final_project_spark import catalog

    spark.range(3).selectExpr(
        "id as event_id",
        "id as ts",  # INT64 — the pre-round-5 encoding
        "id as user_id",
        "'view' as event_type",
        "0.0 as value",
        "'{}' as props",
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob
    import shutil

    part = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
    shutil.copy(part, tmp_path / "events.parquet")
    with _pytest.raises(RuntimeError, match="INT64-nanos|TIMESTAMP"):
        catalog.load_table(spark, str(tmp_path), "events")


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC source/sink (built into the Spark distribution, unlike Avro
    which needs the external spark-avro jar this container lacks):
    schema-preserving round-trip, and the ORC reader must accept a
    pushed predicate like the parquet path does — the lake-format
    flexibility a 100 TB ingest layer needs when upstream systems
    deliver ORC."""
    from data_engineer_8_final_project_spark import catalog

    nation = catalog.load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_orc")
    nation.write.format("orc").save(p)
    back = spark.read.schema(nation.schema).orc(p)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))
    plan = (
        back.filter(F.col("n_regionkey") == 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "n_regionkey" in plan  # filter reached the scan node


def test_xml_roundtrip_with_explicit_schema(spark, sf_dir, tmp_path):
    """XML source/sink (built into Spark since 4.0 — the spark-xml
    integration): write a dimension table as row-tagged XML, read it
    back with an EXPLICIT schema (no inference — the engine-wide rule)
    and require exact row equality. The markup-ingest sibling of the
    HTML-table source the reference scrapes."""
    from data_engineer_8_final_project_spark import catalog

    nation = catalog.load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_xml")
    nation.write.format("xml").option("rowTag", "nation").save(p)
    back = (
        spark.read.format("xml")
        .schema(nation.schema)
        .option("rowTag", "nation")
        .load(p)
    )
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_observation_metrics_piggyback_on_action(spark, sf_dir):
    """df.observe(): data-quality counters collected DURING a real
    action — zero extra scans, unlike a separate audit query. At 100 TB
    this is how a pipeline stage reports row counts / null rates /
    value bounds without re-reading its input: the metrics ride the
    task results of the write it was already doing."""
    from pyspark.sql import Observation

    from data_engineer_8_final_project_spark import catalog

    li = catalog.load_table(spark, sf_dir, "lineitem")
    obs = Observation("ingest_audit")
    audited = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity")).alias("total_qty"),
        F.count(F.when(F.col("l_discount") > 0.9, 1)).alias("suspicious_discounts"),
    )
    audited.write.format("noop").mode("overwrite").save()  # the real action
    got = obs.get
    want = li.agg(
        F.count(F.lit(1)), F.sum("l_quantity"), F.count(F.when(F.col("l_discount") > 0.9, 1))
    ).first()
    assert got["n_rows"] == want[0] > 0
    assert abs(got["total_qty"] - want[1]) < 1e-6
    assert got["suspicious_discounts"] == want[2]


def test_python_datasource_event_producer(spark):
    """The produce side of the reference's declared streaming leg
    (its Faker event_producer.py is absent from the snapshot), as a
    Spark 4 Python DataSource: seeded counter-hash generation — rows
    are a pure function of (seed, row index), so two reads are exactly
    equal, partitions generate independently (no coordination, the
    dbgen pattern), and the schema is the events fixture schema."""
    from data_engineer_8_final_project_spark.schemas import EVENTS
    from data_engineer_8_final_project_spark.sources import generator

    generator.register_source(spark)

    def read():
        return (
            spark.read.format("synthetic_events")
            .option("rows", 300)
            .option("seed", 42)
            .option("numPartitions", 5)
            .load()
        )

    df = read()
    assert df.schema == EVENTS
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) == 300
    assert rows == sorted(map(tuple, read().collect()))  # deterministic
    assert {r[3] for r in rows} == set(generator.EVENT_TYPES)
    # a different seed must generate different data
    other = (
        spark.read.format("synthetic_events")
        .option("rows", 300)
        .option("seed", 43)
        .load()
    )
    assert sorted(map(tuple, other.collect())) != rows
