"""Source-level tripwires for the r12 bug *patterns* (VERDICT r12
item 4: "when a defect is found in a pattern, grep for the pattern,
not just the site").

Three patterns, each of which shipped (or nearly shipped) a production
defect found only by a scale leg:

1. raw ``pathGlobFilter`` stream readers outside ``read_events_stream``
   silently replay ZERO rows on directory-shaped sources (r11 session
   stream; r12 view_click_stream_join + segment_enriched_stream);
2. memory-sink drains (``run_available_now``) on streams whose output
   scales with the corpus OOM the driver (r12: the 128x watermarked-
   dedup leg held ~14M rows on an 8 GiB heap);
3. ``applyInPandas*`` / ``mapInPandas`` sites that ship unconsumed
   columns across the Arrow boundary pay measured 15-25%% penalties
   (r12: projecting cut user_totals_stateful 381.7 -> 323.8 s at 64x).

Two more patterns guard the per-session fixture memo
(``catalog.tables``), whose cache hits register nothing:

4. a query that registers a temp view under a fixed name collides with
   the same query on a concurrent client, and one that reads the
   fixture views by name answers for whichever ``sf_dir`` was loaded
   last — queries bind DataFrames (``spark.sql(text, name=df)``);
5. ``registry.tables_for``, the old reload-per-query path, stays gone.

One guards the scratch-space owner (``stage.py``):

6. a module that picks its own temp dir, registers its own exit hook
   or names its own ``spark_graft_*`` dir escapes the one root that is
   reaped at exit, swept when orphaned and refused on a cluster
   master without a shared base.

These are ALLOWLIST tests, not bans: every existing site was
adjudicated in the r13 sweep (SURVEY §13); a NEW site fails here until
it is adjudicated (projected / bounded-keyspace / inside the helper)
and added to the list. The failure message says what to check.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "data_engineer_8_final_project_spark")


def _py_sources() -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, PKG)] = open(p).read()
    return out


def _sites(pattern: str) -> set[tuple[str, int]]:
    hits = set()
    for rel, src in _py_sources().items():
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(pattern, code):
                hits.add((rel, i))
    return {(rel, _anchor(rel, ln)) for rel, ln in hits}


def _anchor(rel: str, lineno: int) -> str:
    """Nearest preceding TOP-LEVEL def name — line numbers churn,
    functions don't (inner closures anchor to their enclosing def)."""
    src = open(os.path.join(PKG, rel)).read().splitlines()
    for i in range(lineno - 1, -1, -1):
        m = re.match(r"def (\w+)", src[i])
        if m:
            return m.group(1)
    return "<module>"


def test_path_glob_filter_readers_stay_inside_the_helper():
    """Pattern 1: the ONLY streaming pathGlobFilter reader is the
    directory-safe helper itself; the one batch site is binaryFile
    ingest where the glob addresses leaf files directly (adjudicated
    safe — a batch read returns 0 rows loudly, not a silent replay)."""
    allowed = {
        ("streaming/events.py", "read_events_stream"),
        ("sources/io.py", "read_binary_files"),
    }
    got = _sites(r"pathGlobFilter")
    assert got == allowed, (
        f"new pathGlobFilter site(s) {got - allowed}: a raw glob reader "
        "silently replays zero rows on directory-shaped sources — route "
        "event streams through read_events_stream, or adjudicate the "
        "site (batch? leaf-addressed?) and add it here."
    )


def test_memory_sink_drains_are_bounded_keyspace_only():
    """Pattern 2: every ``run_available_now(`` caller was adjudicated
    bounded-keyspace in the r13 sweep (windowed/complete-mode
    aggregates or <= nation-pair rollups — output does NOT scale with
    input rows). Corpus-scaling drains use run_available_now_spilled."""
    allowed = {
        # the drain's own definition
        ("streaming/events.py", "run_available_now"),
        # hourly/sliding windowed aggs: rows ~ time-span x event types
        ("streaming/events.py", "streaming_hourly"),
        ("queries/streaming_q.py", "q_events_sliding_stream"),
        # complete-mode (segment x type) agg: keyspace <= 5 x 6
        ("streaming/events.py", "segment_enriched_stream"),
        # hour-window audit rows ~ time-span
        ("streaming/events.py", "watermark_drop_audit"),
        # update-mode pair rollup: <= 25^2 pairs x 4 batches
        ("queries/streaming_q.py", "q_standings_stream"),
    }
    got = _sites(r"run_available_now\(")
    assert got == allowed, (
        f"memory-sink drain set changed: {got ^ allowed}. A new caller "
        "must have a BOUNDED output keyspace (the sink holds every "
        "emitted row on the driver heap — the r12 128x OOM); corpus-"
        "scaling streams drain via run_available_now_spilled. Adjudicate "
        "and update the allowlist either way."
    )


def test_arrow_boundary_sites_project_consumed_columns():
    """Pattern 3: every grouped-map / map-in-pandas site projects the
    consumed columns before the Arrow exchange (r12 measured wins).
    The check is structural: the receiver expression must contain an
    explicit .select(...) upstream of the Arrow call in the same
    statement (all current sites do), so unprojected full-width rows
    can't silently ride across the boundary at a new site."""
    arrow_re = re.compile(r"\.(applyInPandasWithState|applyInPandas|mapInPandas)\(")
    allowed = {
        ("streaming/stateful.py", "user_running_totals"),
        ("streaming/stateful.py", "user_funnel_stream"),
        ("operators/multimodal.py", "media_feature_extract"),
        ("operators/multimodal.py", "sample_frames"),
        ("operators/multimodal.py", "decode_media"),
        ("operators/similarity.py", "brute_force_topk_gemm"),
        ("queries/udf_q.py", "q_doc_norm_length_grouped"),
    }
    # Sites whose projection is UPSTREAM of the call statement (hand-
    # verified): brute_force_topk_gemm builds `emb` from an explicit
    # 3-column select earlier in the function, then filters it at the
    # call. Every other site must show .select( in the call statement
    # itself — a bare .filter( narrows rows, not width, and must NOT
    # count as projection evidence (review r13).
    projected_upstream = {("operators/similarity.py", "brute_force_topk_gemm")}
    got = set()
    for rel, src in _py_sources().items():
        lines = src.splitlines()
        for i, line in enumerate(lines, 1):
            if not arrow_re.search(line.split("#", 1)[0]):
                continue
            site = (rel, _anchor(rel, i))
            got.add(site)
            # the statement (this line + up to 8 before it, one
            # expression chain) must project explicitly
            stmt = "\n".join(lines[max(0, i - 9) : i])
            assert ".select(" in stmt or site in projected_upstream, (
                f"{rel}:{i} ships unprojected rows across the Arrow "
                "boundary — project the consumed columns first "
                "(r12: 15-25% measured wins on the stateful streams); "
                "if the projection genuinely lives upstream, hand-verify "
                "and add the site to projected_upstream."
            )
    assert got == allowed, (
        f"Arrow-boundary site set changed: {got ^ allowed}. New sites "
        "must project consumed columns before the exchange; adjudicate "
        "and update the allowlist."
    )


def test_only_the_catalog_registers_temp_views():
    """Pattern 4: the one temp-view registration in the engine is
    ``catalog.load`` (views for interactive SQL; no query reads them).
    A query that needs SQL over a frame passes it as a ``spark.sql``
    keyword argument, which registers a uuid-named view and drops it
    after analysis."""
    allowed = {("catalog.py", "load")}
    got = _sites(r"\.create(OrReplace)?(Global)?TempView\(")
    assert got == allowed, (
        f"temp-view registration set changed: {got ^ allowed}. A fixed "
        "view name collides under concurrent clients, and the fixture "
        "views hold only the last-loaded sf_dir: bind the frame with "
        "spark.sql(text, name=df) instead."
    )


def test_nothing_uses_tables_for():
    """Pattern 5: every caller reads fixtures through catalog.tables."""
    hits = []
    for sub in ("data_engineer_8_final_project_spark", "tests", "scripts", "perfbench"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, sub)):
            for f in files:
                p = os.path.join(dirpath, f)
                if f.endswith(".py") and p != os.path.abspath(__file__):
                    if re.search(r"\btables_for\b", open(p).read()):
                        hits.append(os.path.relpath(p, ROOT))
    assert hits == [], f"{hits} name registry.tables_for: call catalog.tables"


def test_only_the_stage_owner_makes_scratch_dirs():
    """Pattern 6: temp dirs, exit hooks and ``spark_graft_*`` names live
    in stage.py alone; everything else asks it (``stage.scratch``,
    ``stage.replay``, ``stage.stage_frame``)."""
    allowed = {
        ("stage.py", "<module>"),  # the one atexit hook
        ("stage.py", "_sweep"),
        ("stage.py", "root"),
    }
    got = _sites(r"tempfile\.(gettempdir|mkdtemp)\(|atexit\.register\b|[\"']spark_graft_")
    assert got == allowed, (
        f"scratch-dir site set changed: {got ^ allowed}. Get scratch space "
        "from stage.py (scratch / replay / stage_frame) so it lives under "
        "the process root: reaped at exit, swept when orphaned, and "
        "placed on spark.graft.stage.dir on a cluster master."
    )
