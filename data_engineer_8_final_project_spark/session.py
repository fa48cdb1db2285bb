"""SparkSession factory.

Design notes (scale-first):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy switching — the knobs that keep one static plan
  viable from sf0.001 up to a 1000-executor cluster.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster this is overridden (2-3× total cores) and AQE coalesces
  down after the fact.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-interop boundary (the sanctioned slow
  path for non-relational operators).
- No query changes the session conf; one that needs its own setting
  runs on a session clone (:func:`with_conf`).
- Generated classes are compiled once per JVM for each query shape.
  Spark caches compiled whole-stage and expression classes in one
  JVM-wide cache of ``spark.sql.codegen.cache.maxEntries`` entries
  (default 100, LRU evicted per Guava segment). The working sets exceed
  that default: the 8 ``bi_dashboard`` queries generate about 160
  distinct classes per pass, the ``curation_replay`` mix about 100, and
  one pass over all 208 registered queries about 2940 (sf0.01, 4
  cores). At 100 entries every warm dashboard pass recompiled about
  150 classes with Janino; at 4096 a warm pass compiles none, unless
  AQE numbers a query's racing stages in a new order (the stage ID is
  part of the class name). The count follows query shapes, not data
  volume, so the size holds at any scale. It is a static conf, read
  when a JVM first uses the cache. In local mode the driver and its
  tasks share one JVM and so one cache. On a non-local master each
  executor keeps its own cache, and executors get the setting: on a
  ``local-cluster`` master the executor's warm dashboard passes
  compiled 0 classes at 4096 and 26-27 at the default.

The reference ran Spark 3.3.2 standalone with a 1-core/1 GB worker
(reference docker/docker-compose-spark.yml:26-27); this engine assumes
Spark 4.x local[N] for tests and a YARN/K8s cluster in production.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_spark(
    app_name: str = "data_engineer_8_final_project_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` controls local parallelism; ``spark.sql.shuffle.partitions``
    is set to the same value (right-sized for local mode — AQE coalesces
    further when partitions come out tiny). ``extra_conf`` is applied
    last, so a cluster overrides the partition count through it.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # HotSpot never JIT-compiles methods past ~8000 bytecodes
        # (-XX:DontCompileHugeMethods): a whole-stage method between
        # 8 KB and Janino's 64 KB limit compiles but runs in the
        # bytecode INTERPRETER — measured 7x slower than the row path
        # on the unrolled pair-cosine stages, whose per-expression
        # codegen splits into small JIT-able methods. Cap generated
        # methods at the JIT limit so such stages take the fast split
        # path automatically; fused stages under 8 KB are untouched.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # The smallest power of two above the ~2940 classes that one
        # pass over the 208 registered queries compiles; at the default
        # 100 every warm dashboard pass recompiled ~150 (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def with_conf(df: DataFrame, conf: dict[str, str]) -> DataFrame:
    """``df`` on a clone of its session with ``conf`` set on the clone
    only: neither the caller's session nor a concurrent query sees it.

    The clone (``cloneSession``, as Structured Streaming takes one per
    stream) keeps the session's conf, views, UDFs and SparkContext; a
    streaming frame's clone also keeps the session's stream listeners,
    so progress still reaches them.
    """
    jsession = df.sparkSession._jsparkSession
    jclone = jsession.cloneSession()
    for k, v in conf.items():
        jclone.conf().set(k, v)
    if df.isStreaming:
        for listener in jsession.streams().listListeners():
            jclone.streams().addListener(listener)
    jvm = df.sparkSession._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(jclone, df._jdf.logicalPlan())
    return DataFrame(jdf, SparkSession(df.sparkSession.sparkContext, jclone))
