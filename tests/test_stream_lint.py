"""Source-level tripwires for the r12 bug *patterns* (VERDICT r12
item 4: "when a defect is found in a pattern, grep for the pattern,
not just the site").

Three patterns, each of which shipped (or nearly shipped) a production
defect found only by a scale leg:

1. raw ``pathGlobFilter`` stream readers outside ``read_events_stream``
   silently replay ZERO rows on directory-shaped sources (r11 session
   stream; r12 view_click_stream_join + segment_enriched_stream);
2. the memory sink holds every emitted row on the driver heap (r12:
   the 128x watermarked-dedup leg held ~14M rows on an 8 GiB heap and
   OOMed) under a fixed session-wide ``queryName`` — every stream
   drains through the one spilled drain, ``events.run_available_now``;
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

One guards the single timing tool (``perfbench/`` with BENCHMARK.json):

7. the retired timing stack (``bench.py``, the per-round A/B and scale
   scripts, their round archives) and the registry ``tags`` that only
   it read stay gone, and no source or doc cites those deleted files.

One guards the session conf, which every concurrent query shares:

8. a query that sets (or unsets) a session conf as its own control
   channel leaks that value into every query running beside it, and
   two such queries interleave their save/restore and leave the
   session at the wrong value — a per-query setting goes on a session
   clone (``session.with_conf``) or into the plan.

One guards the loop driver (``clusters.iterate``):

9. a frame a query persists outlives it unless every path unpersists
   it, and a loop that releases its own generations repeats the
   stage/probe/release/cap cycle ``iterate`` owns — no package module
   persists, caches or unpersists, and in ``operators/clusters.py``
   only ``iterate`` and the post-loop hand-back call ``release``.

One guards the standings core (``operators/standings.py``):

10. a second copy of the standings rollup drifts from the first (the
    reference pipeline's copy read its input twice through a leg
    union, and only the flagship's copy was plan-tested) — the rank
    order, the leg unpivot and the club aggregation are defined once,
    in ``rank_id`` and ``club_rollup``, and neither standings module
    unions legs.

These are ALLOWLIST tests, not bans: every existing site was
adjudicated in the r13 sweep (SURVEY §13); a NEW site fails here until
it is adjudicated (projected / bounded-keyspace / inside the helper)
and added to the list. The failure message says what to check.
"""

from __future__ import annotations

import ast
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


def test_no_package_module_uses_the_memory_sink():
    """Pattern 2: no package module starts a memory sink
    (``.format("memory")``) or names a stream (``.queryName(``); the
    spilled drain lands each micro-batch in scratch parquet instead."""
    got = _sites(r"""\.format\(\s*["']memory["']|\.queryName\(""")
    assert got == set(), (
        f"memory-sink site(s) {got}: the sink holds every emitted row on "
        "the driver heap and registers a session-wide temp view — drain "
        "through events.run_available_now(stream_df, output_mode)."
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


#: Names of the retired timing stack: its entry point, its round
#: archives, and the module name of each deleted script.
RETIRED = re.compile(
    r"\bbench\.py\b|\bbench_spread|\b(?:BENCH|PERF|VERIFY|SCALE|OPTIMIZATION)_r"
    r"|\bPROBES\.md\b|plans/r1"
    r"|\b(?:scale_round|isolated_query_ab|knn_routing_ab|quantizer_ab"
    r"|stateful_batch_ab|codegen_sweep|scale_curve|scale_celled|time_query)\b"
)


def _retired_scope() -> list[str]:
    """Package, tests (bar this file), scripts, the driver adapter,
    README and the skills notes."""
    paths = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "README.md")]
    for sub, exts in (
        ("data_engineer_8_final_project_spark", (".py", ".md")),
        ("tests", (".py", ".md")),
        ("scripts", (".py", ".md")),
        (os.path.join(".claude", "skills"), ("",)),
    ):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, sub)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(exts)]
    return [p for p in paths if p != os.path.abspath(__file__)]


def test_retired_timing_stack_stays_gone():
    """Pattern 7: perfbench/ is the one timing tool. No source or doc
    names the deleted timing scripts or round archives, and no query
    carries the ``tags`` only the old runner read."""
    hits = []
    for p in _retired_scope():
        for i, line in enumerate(open(p, errors="replace").read().splitlines(), 1):
            m = RETIRED.search(line)
            if m:
                hits.append(f"{os.path.relpath(p, ROOT)}:{i}: {m.group(0)}")
    assert hits == [], (
        f"{hits} name the retired timing stack: time with perfbench/run.py, "
        "and cite a measurement by its number and round, not a deleted file."
    )
    tagged = []
    for rel, src in _py_sources().items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call) and any(k.arg == "tags" for k in node.keywords):
                fn = node.func
                if (fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")) == "register":
                    tagged.append(f"{rel}:{node.lineno}")
    assert tagged == [], f"{tagged} pass tags= to register: queries carry no tags"


def test_no_package_module_mutates_the_session_conf():
    """Pattern 8: no package module calls ``<x>.conf.set(`` or
    ``<x>.conf.unset(``. ``session.with_conf`` gets no exemption: it
    sets its clone through the JVM handle (``jclone.conf().set``), a
    different call shape that cannot reach the caller's session."""
    hits = []
    for rel, src in _py_sources().items():
        for node in ast.walk(ast.parse(src)):
            fn = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(fn, ast.Attribute)
                and fn.attr in ("set", "unset")
                and isinstance(fn.value, ast.Attribute)
                and fn.value.attr == "conf"
            ):
                hits.append(f"{rel}:{node.lineno}")
    assert hits == [], (
        f"{hits} mutate a session conf: every concurrent query on the "
        "session sees it. Set a per-query value on a clone "
        "(session.with_conf(df, conf)) or express it in the plan."
    )


def test_loop_generations_have_one_driver():
    """Pattern 9: staging and release are the one frame lifetime rule
    (stage.py), and ``clusters.iterate`` is the one loop that applies
    it to generations; ``_hand_back`` releases what a loop leaves once
    its result is staged."""
    cached = []
    for rel, src in _py_sources().items():
        for node in ast.walk(ast.parse(src)):
            fn = node.func if isinstance(node, ast.Call) else None
            if isinstance(fn, ast.Attribute) and fn.attr in ("persist", "cache", "unpersist"):
                cached.append(f"{rel}:{node.lineno}")
    assert cached == [], (
        f"{cached} persist, cache or unpersist a frame: stage it "
        "(stage.stage_frame) so the one lifetime rule reaps it, and run a "
        "loop on clusters.iterate."
    )
    tree = ast.parse(_py_sources()["operators/clusters.py"])
    releasing = {
        top.name
        for top in tree.body
        if isinstance(top, ast.FunctionDef)
        and any(
            isinstance(n, ast.Call) and getattr(n.func, "id", None) == "release"
            for n in ast.walk(top)
        )
    }
    assert releasing == {"iterate", "_hand_back"}, (
        f"release( called in {releasing}: a loop supplies step and probe "
        "expressions to clusters.iterate, which stages, probes, releases "
        "and tests the cap."
    )


def test_standings_core_has_one_home():
    """Pattern 10: the flagship, its stream and the reference pipeline
    share one standings core; a new caller renames into its columns."""
    core = "operators/standings.py"
    assert _sites(r'desc\("goal_against"\)') == {(core, "rank_id")}, (
        "a second standings rank window: order by standings.rank_id()"
    )
    assert _sites(r'\binline\(|alias\("goal_for"\)') == {(core, "club_rollup")}, (
        "a second leg unpivot or club aggregation: rename into "
        "pair_rollup's columns and call standings.club_rollup"
    )
    unions = {rel for rel, _ in _sites(r"unionByName\(")}
    assert not unions & {core, "operators/cleaning.py"}, (
        "standings legs come from one pair row (club_rollup), not a union"
    )
