"""The scratch-space owner (``stage.py``): one root per process and
base dir, a day-old sweep of orphaned roots, the cluster rule, and the
memoized fixture-replay stager."""

from __future__ import annotations

import glob
import os
import threading
import time

import pytest

from data_engineer_8_final_project_spark import stage
from data_engineer_8_final_project_spark.parity import check_query


def _make_dir(base: str, name: str, age_s: float) -> str:
    path = os.path.join(base, name)
    os.makedirs(path, exist_ok=True)
    t = time.time() - age_s
    os.utime(path, (t, t))
    return path


@pytest.fixture
def stage_dir(spark):
    """Point the session's base dir somewhere, undone after the test."""

    def set_base(path: str) -> None:
        spark.conf.set(stage.DIR_CONF, path)

    yield set_base
    spark.conf.unset(stage.DIR_CONF)


def test_sweep_removes_day_old_orphan_keeps_live(spark, tmp_path, stage_dir):
    """VERDICT r8 item 7: a crashed process never runs its exit hook, so
    the next process's root creation reaps its day-old root, while a
    recent (live) root is never touched."""
    stale = _make_dir(str(tmp_path), "spark_graft_1_dead", 2 * 86400)
    live = _make_dir(str(tmp_path), "spark_graft_2_live", 60)
    stage_dir(str(tmp_path))

    root = stage.root(spark)

    assert not os.path.exists(stale), "day-old orphan must be reaped"
    assert os.path.exists(live), "recent (live) root must survive"
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith(f"spark_graft_{os.getpid()}_")
    assert stage.root(spark) == root, "one root per process and base"


def test_sweep_ignores_files_and_missing_root(spark, tmp_path, stage_dir):
    f = os.path.join(str(tmp_path), "spark_graft_notadir")
    open(f, "w").close()
    t = time.time() - 2 * 86400
    os.utime(f, (t, t))
    stage_dir(str(tmp_path))
    stage.root(spark)
    assert os.path.exists(f), "plain files are never touched"

    stage_dir(str(tmp_path / "missing"))
    assert os.path.isdir(stage.root(spark))  # created, must not raise


def test_non_local_master_requires_stage_dir(spark, tmp_path, stage_dir, monkeypatch):
    """ADVICE r17 item 2: off a local master, executors write every
    stage and replay, so a driver-local temp dir is refused."""
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    with pytest.raises(ValueError, match=stage.DIR_CONF):
        stage.root(spark)
    spark.conf.set(stage.SINK_CONF, "parquet")
    try:
        with pytest.raises(ValueError, match=stage.DIR_CONF):
            stage.stage_frame(spark.range(3))
        stage_dir(str(tmp_path))
        assert stage.stage_frame(spark.range(3)).count() == 3
    finally:
        spark.conf.unset(stage.SINK_CONF)


def test_concurrent_clients_stage_one_replay_once(spark, tmp_path, monkeypatch):
    """Four clients asking for one replay key share one staging: the
    chunks are built and written once, and everyone gets the same dir."""
    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")
    writes = []
    pin = stage.pin_new_file_mtimes

    def counting_pin(*args):
        writes.append(args[1])
        pin(*args)

    monkeypatch.setattr(stage, "pin_new_file_mtimes", counting_pin)

    def chunks():
        time.sleep(0.5)  # widen the race window
        return [spark.range(i * 10, i * 10 + 10) for i in range(3)], {"n": 3}

    got = []
    threads = [
        threading.Thread(
            target=lambda: got.append(stage.replay(spark, "t", str(src), (3,), chunks))
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert len(got) == 4 and len(set(p for p, _ in got)) == 1
    path, meta = got[0]
    assert meta == {"n": 3}
    assert len(writes) == 3, f"one write per chunk expected, got {len(writes)}"
    assert writes == sorted(writes), "chunk mtimes must increase"
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 3
    assert os.path.exists(os.path.join(path, "_staged_ok"))
    assert spark.read.parquet(path).count() == 30


def test_concurrent_staging_queries_match_oracles(spark, sf_dir):
    """Two clients each of dedup_stream and html_matches_extract on one
    session: the shared replay stages cannot be rewritten under a
    running stream or a lazy result."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)  # the drains flip it session-wide
    results = {}

    def run(i: int, name: str) -> None:
        try:
            results[i] = check_query(spark, name, sf_dir)
        except Exception as e:  # surfaced by the assert below
            results[i] = e

    names = ["dedup_stream", "dedup_stream", "html_matches_extract", "html_matches_extract"]
    threads = [threading.Thread(target=run, args=(i, n)) for i, n in enumerate(names)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        spark.conf.set(key, saved)
    for i, name in enumerate(names):
        res = results[i]
        assert not isinstance(res, Exception) and res.ok, f"{name}: {res}"


def test_wmdrop_stager_rejects_short_span_fixture(spark, tmp_path):
    """ADVICE r11 #2: on a fixture whose time span cannot put every
    planted copy behind the watermark (~under 2.5h for the 1h delay +
    1h window), staging must fail loudly with the span requirement —
    not let the query die later as an unexplained oracle mismatch."""
    import datetime as dt

    from data_engineer_8_final_project_spark.schemas import EVENTS
    from data_engineer_8_final_project_spark.streaming import events as ev

    d = tmp_path / "short"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=6 * i), i % 5, "view", 1.0, "{}")
        for i in range(20)  # ~2h span < the ~2.5h the design needs
    ]
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(str(d / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    staged = lambda: set(glob.glob(os.path.join(stage.root(spark), "wmdrop_*")))  # noqa: E731
    before = staged()
    with pytest.raises(AssertionError, match="span"):
        ev._stage_wmdrop_replay(spark, str(d))
    assert staged() == before, "a failed precondition must leave nothing staged"


def test_wmdedup_stager_rejects_duplicate_event_ids(spark, tmp_path):
    """The wmdedup oracle models one emit per original + one per
    aged-out replay, which requires event_id be unique in the source —
    a fixture violating that must fail at staging with the cause."""
    import datetime as dt

    from data_engineer_8_final_project_spark.schemas import EVENTS
    from data_engineer_8_final_project_spark.streaming import events as ev

    d = tmp_path / "dupids"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i % 10, t0 + dt.timedelta(days=i), i, "view", 1.0, "{}")  # ids repeat
        for i in range(30)
    ]
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(str(d / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    staged = lambda: set(glob.glob(os.path.join(stage.root(spark), "wmdedup_*")))  # noqa: E731
    before = staged()
    with pytest.raises(AssertionError, match="unique"):
        ev._stage_wmdedup_replay(spark, str(d))
    assert staged() == before, "a failed precondition must leave nothing staged"
