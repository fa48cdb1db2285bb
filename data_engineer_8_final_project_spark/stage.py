"""Scratch-space owner: frame staging, fixture replays, drain dirs.

Every scratch directory the engine writes is created, named, reaped and
swept here; no other package module touches the temp dir.

Layout. A process owns one root per base dir,
``<base>/spark_graft_<pid>_<random>``, where ``<base>`` is
``spark.graft.stage.dir`` or ``tempfile.gettempdir()``. The root is
created on first use under a lock, and one ``atexit`` hook removes it.
Creating it sweeps sibling ``spark_graft_*`` dirs untouched for a day:
the roots of processes that died before their hook ran. A live root
is touched each time it is handed out, so the age gate never reaches
it. Inside the root:

- ``stage_<n>``: a parquet-sink stage (:func:`stage_frame`)
- ``<family>_<n>``: a fixture replay (:func:`replay`) or a stream
  drain's spill and checkpoint (:func:`scratch`)

Lifetime rule:

- Replay stages live until process exit. Lazy query results read them,
  and they are bounded by the number of distinct replay keys.
- Drain roots are reaped by the drain before it returns.
- Loop generations are reaped by ``clusters.iterate`` once the next
  generation supersedes them.

Cluster rule: on a master other than ``local*`` executors write every
stage and replay, so the base must be a path mounted alike on the
driver and every executor. There ``spark.graft.stage.dir`` is
required, and a session without it raises ``ValueError``.

Confs (runtime, settable per session or submit):

- ``spark.graft.stage.sink`` = ``localCheckpoint`` (default) | ``parquet``;
  any other value raises ``ValueError``. Locally the right sink for a
  frame several plan branches consume is ``localCheckpoint(eager=True)``
  (executor block storage, freed by GC); at cluster scale it is a
  parquet write and read-back (off block-manager memory, survives
  executor loss, and the read-back re-splits to cluster parallelism).
  A ``localCheckpoint`` stage carries the source plan's estimated size,
  not the measured one (``dup_clusters``' 50-row edge list: 4.08e12 B,
  where a materialized ``persist`` reports 800 B), so a join against it
  is planned without broadcast.
- ``spark.graft.stage.dir`` = the base dir above.

A stage is not a cross-run cache: :func:`stage_frame` materializes the
frame it is given inside the calling query, and a replay key includes
the fixture's mtime and size, so a changed fixture restages.
"""

from __future__ import annotations

import atexit
import itertools
import json
import os
import shutil
import tempfile
import threading
import time
import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

SINK_CONF = "spark.graft.stage.sink"
DIR_CONF = "spark.graft.stage.dir"
SINKS = ("localCheckpoint", "parquet")

#: Sweep horizon: a day. Far above any real stage lifetime (seconds)
#: so a paused-under-debugger process is safe, far below "forever".
STALE_ROOT_AGE_S = 24 * 3600

_lock = threading.Lock()
_roots: dict[str, str] = {}  # base dir -> this process's root under it
_seq = itertools.count()
_sink_dirs: weakref.WeakKeyDictionary[DataFrame, str] = weakref.WeakKeyDictionary()
_replays: dict[tuple, tuple[str, object]] = {}
_replay_locks: dict[tuple, threading.Lock] = {}


@atexit.register
def _reap() -> None:
    for r in _roots.values():
        shutil.rmtree(r, ignore_errors=True)


def _sweep(base: str) -> None:
    """Best-effort removal of ``<base>/spark_graft_*`` dirs older than
    the horizon. Races are benign: a concurrent sweep of the same
    orphan makes one rmtree a no-op, and a dir created between listdir
    and stat is younger than the gate by construction."""
    now = time.time()
    try:
        names = os.listdir(base)
    except OSError:
        return
    for name in names:
        path = os.path.join(base, name)
        try:
            if (
                name.startswith("spark_graft_")
                and os.path.isdir(path)
                and now - os.stat(path).st_mtime > STALE_ROOT_AGE_S
            ):
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


def root(spark: SparkSession) -> str:
    """This process's scratch root under the session's base dir."""
    base = spark.conf.get(DIR_CONF, None)
    if not base:
        master = spark.sparkContext.master
        if not master.startswith("local"):
            raise ValueError(
                f"master {master!r} is not local: set {DIR_CONF} to a dir "
                "mounted alike on the driver and every executor"
            )
        base = tempfile.gettempdir()
    with _lock:
        if base not in _roots:
            os.makedirs(base, exist_ok=True)
            _sweep(base)
            _roots[base] = tempfile.mkdtemp(prefix=f"spark_graft_{os.getpid()}_", dir=base)
        os.utime(_roots[base])
        return _roots[base]


def scratch(spark: SparkSession, family: str) -> str:
    """A fresh (not yet created) dir path ``<root>/<family>_<n>``."""
    return os.path.join(root(spark), f"{family}_{next(_seq)}")


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
    if sink == "localCheckpoint":
        return df.localCheckpoint(eager=True)
    path = scratch(spark, "stage")
    df.write.parquet(path)
    out = spark.read.parquet(path)
    _sink_dirs[out] = path
    return out


def release(frame: DataFrame) -> None:
    """Remove the parquet-sink dir behind a frame :func:`stage_frame`
    returned; ``frame`` must not be read again. A no-op for any other
    frame, so under ``localCheckpoint`` (blocks freed by GC)."""
    path = _sink_dirs.pop(frame, None)
    if path:
        shutil.rmtree(path, ignore_errors=True)


def pin_new_file_mtimes(stage: str, t: float, staged: set[str]) -> None:
    """Pin EXPLICIT mtime ``t`` on data files in ``stage`` not yet in
    ``staged``.

    A chunked replay relies on the file stream source feeding
    micro-batches in mtime order; on filesystems with coarse mtime
    granularity two sequential writes can tie, and the source's
    tiebreak over random part-file names could replay a later chunk
    first. Callers pass a strictly increasing whole-second ``t`` per
    chunk and the shared ``staged`` set accumulates files already
    pinned.
    """
    for name in sorted(os.listdir(stage)):
        p = os.path.join(stage, name)
        if not name.startswith(("_", ".")) and p not in staged:
            os.utime(p, (t, t))
            staged.add(p)


def replay(
    spark: SparkSession,
    family: str,
    src: str,
    params: tuple,
    chunks: Callable[[], tuple[list[DataFrame], object]],
    fmt: str = "parquet",
) -> tuple[str, object]:
    """Stage a fixture replay once per process and key; return
    ``(dir, meta)``.

    The key is (family, absolute ``src``, its ``st_mtime_ns`` and
    ``st_size``, ``params``). ``chunks()`` returns ``(frames, meta)``:
    frame i lands as one ``fmt`` file (``coalesce(1)``, append) whose
    mtime is pinned to the source mtime + 1 + i, so a file stream with
    ``maxFilesPerTrigger=1`` replays the frames in list order. ``meta``
    is stored in the ``_staged_ok`` done marker and returned with the
    dir. A per-key lock makes concurrent callers stage once, and a
    staged dir is never rewritten, so a stream reading it is safe. A
    ``chunks()`` that raises (a precondition) leaves nothing staged.
    """
    st = os.stat(src)
    key = (family, os.path.abspath(src), st.st_mtime_ns, st.st_size, params)
    with _lock:
        key_lock = _replay_locks.setdefault(key, threading.Lock())
    with key_lock:
        if key not in _replays:
            path = scratch(spark, family)
            try:
                frames, meta = chunks()
                staged: set[str] = set()
                for i, frame in enumerate(frames):
                    frame.coalesce(1).write.mode("append").format(fmt).save(path)
                    pin_new_file_mtimes(path, st.st_mtime + 1 + i, staged)
                with open(os.path.join(path, "_staged_ok"), "w") as f:
                    json.dump(meta, f)
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
            _replays[key] = (path, meta)
        return _replays[key]
