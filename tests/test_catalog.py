"""catalog.tables: the per-session fixture memo.

A hit must return the cached frames without reading or registering
anything; a miss (new session, new ``sf_dir``, or a fixture file whose
mtime moved) must reload exactly once, even under concurrent callers.
Queries must bind the frames they were given, never the session views
the last ``load`` registered.
"""

from __future__ import annotations

import gc
import os
import shutil
import sys
import threading
import time
import weakref

import pytest

from data_engineer_8_final_project_spark import catalog
from data_engineer_8_final_project_spark.parity import check_query


@pytest.fixture
def load_calls(monkeypatch) -> list[str]:
    """Count calls of the module-level ``catalog.load``; each call
    sleeps briefly so concurrent misses overlap inside it."""
    calls: list[str] = []
    original = catalog.load

    def counting(spark, sf_dir):
        calls.append(sf_dir)
        time.sleep(0.2)
        return original(spark, sf_dir)

    monkeypatch.setattr(catalog, "load", counting)
    return calls


def _footer_counts(sf_dir: str) -> dict[str, int]:
    return {
        name: catalog.parquet_row_count(os.path.join(sf_dir, f"{name}.parquet"))
        for name in catalog.TABLE_NAMES
    }


def test_hit_returns_the_same_mapping_without_loading(spark, sf_dir, load_calls):
    first = catalog.tables(spark, sf_dir)
    del load_calls[:]
    assert catalog.tables(spark, sf_dir) is first
    assert catalog.tables(spark, sf_dir + "/") is first  # keyed on the resolved path
    assert load_calls == []
    with pytest.raises(TypeError):
        first["events"] = first["orders"]  # shared by every caller: read-only


def test_switching_scales_keeps_each_scale_and_queries_bind_their_own(spark, sf_dir):
    spark = spark.newSession()  # every call below is a known miss or hit
    small, large = sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")
    first = catalog.tables(spark, small)
    second = catalog.tables(spark, large)
    again = catalog.tables(spark, small)
    assert again is first
    for frames, sf in ((first, small), (second, large), (again, small)):
        got = {name: frames[name].count() for name in ("events", "orders", "lineitem")}
        want = _footer_counts(sf)
        assert got == {name: want[name] for name in got}
    # the session views still hold the larger scale: a query that read
    # them by name would now answer for the wrong sf_dir
    assert spark.table("events").count() == _footer_counts(large)["events"]
    for name in ("events_time_rollup", "order_chains_recursive"):
        res = check_query(spark, name, small)
        assert res.ok, f"{name}: {res.detail}"


def test_touched_fixture_file_reloads(spark, sf_dir, tmp_path, load_calls):
    for name in catalog.TABLE_NAMES:
        shutil.copy2(os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    first = catalog.tables(spark, str(tmp_path))
    assert catalog.tables(spark, str(tmp_path)) is first
    assert len(load_calls) == 1
    target = tmp_path / "orders.parquet"
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = catalog.tables(spark, str(tmp_path))
    assert second is not first
    assert len(load_calls) == 2
    assert second["orders"].count() == _footer_counts(sf_dir)["orders"]


def test_new_session_gets_its_own_entry_and_frees_it(spark, sf_dir):
    shared = catalog.tables(spark, sf_dir)
    other = spark.newSession()
    own = catalog.tables(other, sf_dir)
    assert own is not shared
    assert own["orders"].sparkSession is other
    assert catalog.tables(spark, sf_dir) is shared
    ref = weakref.ref(other)
    # PySpark's RDD.toDF closes over the newest session object; building
    # one more session releases ``other`` from it
    spark.newSession()
    del other, own
    gc.collect()
    assert ref() is None, "the memo must not keep a dropped session alive"


def test_concurrent_cold_misses_load_once(spark, sf_dir, load_calls):
    cold = spark.newSession()
    n = 2 * (os.cpu_count() or 4)  # more clients than cores
    barrier = threading.Barrier(n)
    results: list[object] = []

    def client() -> None:
        barrier.wait(timeout=60)
        results.append(catalog.tables(cold, sf_dir))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(load_calls) == 1
    assert len(results) == n and all(r is results[0] for r in results)
