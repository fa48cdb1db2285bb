"""Fixture catalog: load the parquet fixture tables once per session.

This is the engine's equivalent of the reference's warehouse database
(reference sql/warehouse-ddl.sql:1-2 — ``CREATE DATABASE warehouse``):
a named-table surface that both the DataFrame API and ``spark.sql``
queries resolve against.

Loading is not free. Reading the 10 tables and registering their views
costs about 80 ms of py4j calls on a warm single-client session, and
about 0.19 s per query when two concurrent clients each reloaded per
query (4 cores, sf0.01). So queries go through :func:`tables`, which
memoizes the loaded frames per session. The memo key is the session
plus the resolved ``sf_dir``; the entry is replaced when any fixture
file's ``st_mtime_ns`` changes. A hit registers nothing, which is why
query functions bind their inputs as DataFrames and never read the
session views by name.

Scans stay lazy: Catalyst prunes columns and pushes predicates into
each parquet scan per query.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Mapping
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession

from .schemas import FIXTURE_SCHEMAS

TABLE_NAMES = tuple(FIXTURE_SCHEMAS)

#: (resolved path, mtime_ns) pairs already footer-checked this process.
_format_checked: set[tuple[str, int]] = set()

#: (resolved path, mtime_ns) -> footer row count, memoized per process.
_row_counts: dict[tuple[str, int], int] = {}

#: session attribute holding that session's memo:
#: resolved sf_dir -> (mtime stamp, read-only name -> DataFrame)
_MEMO_ATTR = "_graft_fixture_tables"

#: serializes cold misses, so concurrent clients build one entry
_miss_lock = threading.Lock()


def _parquet_parts(path: str) -> list[str]:
    """Resolve a fixture path (single file or directory-of-parts) to
    the list of physical parquet files backing it."""
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    return [path]


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet footer metadata — no Spark job.

    Queries that only need a row-count BOUND (e.g. sizing the
    recursive-CTE governor) must not pay an eager full-table count():
    at 100 TB that is a whole extra stage per call, while every footer
    already records its row group counts exactly. Memoized on
    (path, mtime) so repeated calls within a process are free.
    """
    import pyarrow.parquet as pq

    key = (os.path.abspath(path), os.stat(path).st_mtime_ns)
    if key not in _row_counts:
        _row_counts[key] = sum(
            pq.ParquetFile(p).metadata.num_rows for p in _parquet_parts(path)
        )
    return _row_counts[key]


def _assert_events_ts_format(path: str) -> None:
    """Tripwire: fail LOUDLY if the events fixture's physical ``ts``
    encoding ever changes again.

    The fixture encoding silently moved from INT64-nanoseconds to
    parquet TIMESTAMP(µs) between driver rounds, and the then-current
    nanos read path kept "working" while collapsing every event onto
    1970-01-20 — wrong answers, no error. A footer-read assertion over
    EVERY part file (a directory-of-parts fixture could mix encodings)
    converts that failure mode into an immediate, explained crash.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = (os.path.abspath(path), os.stat(path).st_mtime_ns)
    if key in _format_checked:
        return
    for target in _parquet_parts(path):
        try:
            ts_type = pq.ParquetFile(target).schema_arrow.field("ts").type
        except KeyError:
            raise RuntimeError(
                f"events fixture {target!r} has no `ts` column in its parquet "
                "footer — the fixture schema has changed; update "
                "catalog.load_table/schemas.EVENTS deliberately."
            ) from None
        if ts_type not in (pa.timestamp("us"), pa.timestamp("us", "UTC")):
            raise RuntimeError(
                f"events fixture {target!r} stores ts as {ts_type} — this engine "
                "expects parquet TIMESTAMP(us) (read as TimestampType under the "
                "UTC session-timezone pin). The fixture encoding has changed; "
                "update catalog.load_table/schemas.EVENTS deliberately instead "
                "of letting a stale read path produce silently wrong timestamps "
                "(pre-round-5 the fixture was INT64-nanos and a leftover "
                "`ts div 1000` read collapsed all events onto 1970-01-20)."
            )
    _format_checked.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its explicit schema (no inference)."""
    if name not in FIXTURE_SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        _assert_events_ts_format(path)
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(path)


def _stamp(sf_dir: str) -> tuple[int, ...]:
    """``st_mtime_ns`` of every fixture path, and of every part file
    of a directory-shaped table."""
    stamp = []
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        stamp.append(os.stat(path).st_mtime_ns)
        if os.path.isdir(path):
            stamp.extend(os.stat(p).st_mtime_ns for p in _parquet_parts(path))
    return tuple(stamp)


def _memo(spark: SparkSession) -> dict[str, tuple[tuple[int, ...], Mapping[str, DataFrame]]]:
    """The session's own memo. It lives on the session object, so it
    goes when the session does: a ``WeakKeyDictionary`` keyed on the
    session would never drop an entry, since every cached DataFrame
    holds its session strongly."""
    return spark.__dict__.setdefault(_MEMO_ATTR, {})


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every fixture table, register each as a temp view, and
    store the frames as this session's :func:`tables` entry for
    ``sf_dir``.

    Returns a fresh name → DataFrame dict. Always reads: call
    :func:`tables` instead unless a reload is the point. The views
    serve interactive ``spark.sql``; re-registering replaces the
    previous ones, and no query reads them.
    """
    root = os.path.realpath(sf_dir)
    stamp = _stamp(root)
    frames: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        frames[name] = df
    _memo(spark)[root] = (stamp, MappingProxyType(dict(frames)))
    return frames


def tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """The fixture tables of ``sf_dir`` for ``spark``, loaded once.

    Returns this session's cached read-only name → DataFrame mapping,
    the same object on every hit. A miss (first call for the resolved
    ``sf_dir``, or a fixture file whose ``st_mtime_ns`` moved) calls
    :func:`load` under a lock, so concurrent clients on a cold key
    build one entry; ``load`` re-runs the events footer check.
    """
    root = os.path.realpath(sf_dir)
    stamp = _stamp(root)
    entry = _memo(spark).get(root)
    if entry is None or entry[0] != stamp:
        with _miss_lock:
            entry = _memo(spark).get(root)
            if entry is None or entry[0] != stamp:
                load(spark, sf_dir)
                entry = _memo(spark)[root]
    return entry[1]
