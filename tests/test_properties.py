"""Property tests (SURVEY.md §5 item 4): standings invariants.

For ANY match table — including NULL scores (the reference's
malformed-score quirk) and clubs appearing only home or only away —
the standings core must satisfy the conservation laws of the
double-entry bookkeeping it implements, through both of its entry
points: the reference pipeline's ``league_standings`` and the
flagship's nation-keyed path.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_engineer_8_final_project_spark.operators.cleaning import league_standings
from data_engineer_8_final_project_spark.operators.standings import pair_rollup, standings_from_pairs

CLUBS = [f"CLUB_{i}" for i in range(6)]

match_row = st.tuples(
    st.sampled_from(CLUBS),
    st.sampled_from(CLUBS),
    st.one_of(st.none(), st.integers(0, 5)),
    st.one_of(st.none(), st.integers(0, 5)),
)


def _reference(spark, rows):
    """The reference pipeline's entry: cleaned matches by club name."""
    data = [
        ("league_x", h, a, hs, a_s, "2025-03-01 09:00:00")
        for h, a, hs, a_s in rows
    ]
    clean = spark.createDataFrame(
        data,
        "league string, home_team string, away_team string, "
        "home_score int, away_score int, created_at string",
    )
    return league_standings(clean).withColumnRenamed("match", "played")


def _flagship(spark, rows):
    """The flagship's keyed path: nation-keyed matches, names and the
    league joined from a one-region nation/region frame."""
    nation = spark.createDataFrame(
        [(i, c, 0) for i, c in enumerate(CLUBS)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    region = spark.createDataFrame([(0, "league_x")], "r_regionkey int, r_name string")
    m = spark.createDataFrame(
        [(CLUBS.index(h), CLUBS.index(a), hs, a_s) for h, a, hs, a_s in rows],
        "home int, away int, home_score long, away_score long",
    )
    return standings_from_pairs(pair_rollup(m), nation, region)


@pytest.mark.usefixtures("spark")
@pytest.mark.parametrize("standings", [_reference, _flagship], ids=["league_standings", "flagship"])
@given(rows=st.lists(match_row, min_size=1, max_size=30))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_standings_conservation_laws(spark, standings, rows):
    out = standings(spark, rows).collect()

    n_matches = len(rows)
    n_null = sum(1 for _, _, hs, a_s in rows if hs is None or a_s is None)
    decisive = sum(
        1 for _, _, hs, a_s in rows if hs is not None and a_s is not None and hs != a_s
    )
    drawn = sum(
        1 for _, _, hs, a_s in rows if hs is not None and a_s is not None and hs == a_s
    )

    # every match contributes exactly two legs
    assert sum(r.played for r in out) == 2 * n_matches
    # per-row bookkeeping
    for r in out:
        assert r.played == r.win + r.draw + r.loss
        assert r.points == 3 * r.win + r.draw
        assert r.goal_diff == r.goal_for - r.goal_against
    # decisive matches pair one win with one loss; NULL matches are a
    # loss for BOTH sides (reference quirk); draws pair up
    assert sum(r.win for r in out) == decisive
    assert sum(r.draw for r in out) == 2 * drawn
    assert sum(r.loss for r in out) == decisive + 2 * n_null
    # goals are conserved across the unpivot
    assert sum(r.goal_for for r in out) == sum(r.goal_against for r in out)
    # rank ids are exactly 1..n within the league
    assert sorted(r.id for r in out) == list(range(1, len(out) + 1))
    # output is ordered by the reference's 6-key DESC sort (incl. the
    # goal_against-DESC quirk), club ASC as the determinism tiebreak
    keys = [
        (-r.points, -r.goal_for, -r.goal_against, -r.win, -r.draw, -r.loss, r.club)
        for r in sorted(out, key=lambda r: r.id)
    ]
    assert keys == sorted(keys)


# --- Z-order Morton code (sources/layout.py) ------------------------------

xy = st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1))


def _morton_py(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@pytest.mark.usefixtures("spark")
@given(pts=st.lists(xy, min_size=1, max_size=60, unique=True))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zvalue_matches_reference_morton(spark, pts):
    """The flat bitwise-expression Morton code equals the textbook
    per-bit construction for every input, and stays order-isomorphic
    to it (sorting by one sorts by the other)."""
    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark.sources.layout import zvalue

    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zvalue([F.col("x"), F.col("y")], 16).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _morton_py(x, y)


# --- Gap sessionization (operators/sessions.py) ---------------------------

event_times = st.lists(
    st.integers(0, 6 * 3600),  # seconds across 6 hours
    min_size=1,
    max_size=60,
    unique=True,
)


@pytest.mark.usefixtures("spark")
@given(times=event_times)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sessionize_partitions_events_with_gap_law(spark, times):
    """For ANY event-time set: sessions cover every event exactly once,
    consecutive sessions are separated by more than the gap, and no
    session contains an internal silence longer than the gap."""
    from data_engineer_8_final_project_spark.operators.sessions import sessionize

    from pyspark.sql import functions as F

    gap_min = 30
    df = spark.createDataFrame(
        [(i, 7, "click", float(t), "{}") for i, t in enumerate(sorted(times))],
        "event_id long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.expr("timestamp_seconds(1740787200 + int(value))"))
    out = sessionize(df, gap_minutes=gap_min).collect()

    assert sum(r.n_events for r in out) == len(times)
    spans = sorted((r.session_start, r.session_end) for r in out)
    ts_sorted = sorted(times)
    # sessions ordered, separated by > gap
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert (s2 - e1).total_seconds() > gap_min * 60
    # gap law inside sessions: reconstruct from raw times
    sess_bounds = [((s - spans[0][0]).total_seconds(), (e - spans[0][0]).total_seconds()) for s, e in spans]
    base = ts_sorted[0]
    rel = [t - base for t in ts_sorted]
    # events assigned to exactly one span
    for t in rel:
        assert sum(1 for lo, hi in sess_bounds if lo <= t <= hi) == 1


# --- CDC latest-wins snapshot (queries/streaming_q.py) --------------------

upserts = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 2), st.integers(0, 1000)),
    min_size=1,
    max_size=50,
)


@pytest.mark.usefixtures("spark")
@given(rows=upserts)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_latest_snapshot_equals_sequential_upsert(spark, rows):
    """Window compaction must equal the row-at-a-time upsert a mutable
    table would have produced: replay rows in (ts, event_id) order into
    a dict, compare final states."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    data = [(i, u, f"t{k}", float(v), "{}") for i, (u, k, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.expr("timestamp_seconds(1740787200 + event_id % 7)"))

    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    got = {
        (r.user_id, r.event_type): r.value
        for r in df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }

    best = {}
    for i, (u, k, v) in enumerate(rows):
        key = (u, f"t{k}")
        rank = (i % 7, i)  # (ts offset, event_id) — the window's exact key
        if key not in best or rank > best[key][0]:
            best[key] = (rank, float(v))
    assert got == {k: v for k, (rank, v) in best.items()}


docs_strategy = st.lists(
    st.integers(1, 60),  # token counts per document
    min_size=1,
    max_size=12,
)


@pytest.mark.usefixtures("spark")
@given(token_counts=docs_strategy)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_doc_chunks_cover_and_overlap_invariants(spark, token_counts):
    """For ANY document lengths, the chunker must satisfy: (a) every
    token appears in at least one chunk (coverage); (b) chunk 0 starts
    at token 1 and consecutive starts differ by exactly the stride;
    (c) no chunk is fully contained in its predecessor (the tail rule);
    (d) concatenating each chunk's first `stride` tokens, plus the last
    chunk's tail, reconstructs the document exactly."""
    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark.queries.corpus_q import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        q_doc_chunks,
    )

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n)), "en", "src", n)
        for i, n in enumerate(token_counts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("_chunk_prop_docs")
    # drive the operator body directly on the synthetic frame
    out = (
        df.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(
                F.expr(
                    f"filter(sequence(1, size(t), {CHUNK_STRIDE}), "
                    f"s -> s = 1 OR s - {CHUNK_STRIDE} + {CHUNK_TOKENS} - 1 < size(t))"
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.expr(f"slice(t, start, {CHUNK_TOKENS})").alias("ct"),
        )
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, list(r.ct)))
    for doc_id, n in enumerate(token_counts):
        toks = [f"w{doc_id}_{j}" for j in range(n)]
        chunks = sorted(by_doc[doc_id])
        assert chunks[0][0] == 0
        assert [c for c, _ in chunks] == list(range(len(chunks)))
        covered = set()
        rebuilt: list[str] = []
        for idx, (cid, ct) in enumerate(chunks):
            start = cid * CHUNK_STRIDE  # 0-based
            assert ct == toks[start : start + CHUNK_TOKENS]
            covered.update(range(start, start + len(ct)))
            if idx + 1 < len(chunks):
                assert len(ct) > CHUNK_TOKENS - CHUNK_STRIDE, "chunk contained in successor region"
                rebuilt.extend(ct[:CHUNK_STRIDE])
            else:
                rebuilt.extend(ct)
        assert covered == set(range(n)), "coverage hole"
        assert rebuilt == toks, "stride-prefix reconstruction failed"


asof_event = st.tuples(
    st.integers(0, 3),      # key
    st.integers(0, 1000),   # ts offset (seconds; duplicates allowed)
)


@pytest.mark.usefixtures("spark")
@given(
    lefts=st.lists(asof_event, min_size=1, max_size=25),
    rights=st.lists(asof_event, min_size=0, max_size=25),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_equals_naive_reference(spark, lefts, rights):
    """For ANY generated (key, ts) streams, the union-window ASOF join
    must equal the naive quadratic definition: the right row with the
    max ts <= left.ts (event-id tiebreak at duplicate timestamps) per
    key, NULL when none exists."""
    import datetime as dt

    from data_engineer_8_final_project_spark.operators.asof import asof_backward_join

    t0 = dt.datetime(2024, 1, 1)
    lrows = [(i, k, t0 + dt.timedelta(seconds=ts)) for i, (k, ts) in enumerate(lefts)]
    rrows = [
        (1000 + i, k, t0 + dt.timedelta(seconds=ts))
        for i, (k, ts) in enumerate(rights)
    ]
    schema = "event_id long, user_id long, ts timestamp"
    left = spark.createDataFrame(lrows, schema)
    right = spark.createDataFrame(rrows, schema)
    got = {
        r.event_id: r.asof_event_id
        for r in asof_backward_join(left, right, "user_id", "ts", "event_id").collect()
    }
    for eid, k, ts in lrows:
        cands = [(rts, rid) for rid, rk, rts in rrows if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[eid] == want, (eid, got[eid], want)
