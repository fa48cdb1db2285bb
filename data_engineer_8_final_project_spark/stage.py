"""Multi-consumer frame staging with a conf-selectable sink.

VERDICT r16 item 5: the optimization rounds stage intermediates that
several plan branches consume (per-customer aggregates, tokenized
corpora, KMV sketches, quantizer assignments, CC/LPA loop generations)
so the expensive lineage runs ONCE. Locally the right sink is
``localCheckpoint(eager=True)`` (executor block storage, blocks freed
by GC); at 100 TB the right sink is a parquet write+read-back (off
block-manager memory, survives executor loss, and the read-back scan
re-splits to cluster parallelism). That swap used to live in comments
at every site — this helper makes it code.

Sink selection (runtime confs, settable per session/submit):

- ``spark.graft.stage.sink`` = ``localCheckpoint`` (default) | ``parquet``;
  any other value raises ``ValueError``
- ``spark.graft.stage.dir``  = parquet-sink base dir (default $TMPDIR)

Not a cross-run cache: every call materializes the frame it is given,
inside the calling query's own invocation; the parquet sink writes to
a dir unique per (pid, call) — never keyed on the input path — and
reaps it at process exit. Local defaults keep the driver's bench shape
unchanged (the default path IS the old per-site call).
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

SINK_CONF = "spark.graft.stage.sink"
DIR_CONF = "spark.graft.stage.dir"
SINKS = ("localCheckpoint", "parquet")

_seq = itertools.count()
_created: list[str] = []


def _reap() -> None:
    for d in _created:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap)


def stage_frame(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once and return a lineage-free frame of it.

    Use when >= 2 consumers would otherwise re-evaluate an EXPENSIVE
    lineage (r16 lesson: staging cheap lineages measures slower — the
    materialize+re-read overhead must be under the recompute cost).
    """
    spark = df.sparkSession
    sink = spark.conf.get(SINK_CONF, SINKS[0])
    if sink not in SINKS:
        raise ValueError(f"{SINK_CONF}={sink!r} is not one of {', '.join(SINKS)}")
    if sink == "parquet":
        base = spark.conf.get(DIR_CONF, None) or tempfile.gettempdir()
        path = os.path.join(base, f"spark_graft_stage_{os.getpid()}_{next(_seq)}")
        _created.append(path)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=True)
