"""Near-duplicate cluster assignment: connected components over pair edges.

The step after any pairwise dedup tier: near-dup PAIRS (from jaccard /
simhash / minhash) must become CLUSTERS so one canonical document per
component survives. Components are computed by iterative min-label
propagation — each round every vertex adopts the smallest label among
itself and its neighbors; at the fixpoint every component is labeled by
its minimum doc_id. The fixpoint is unique and order-independent, so
the result is deterministic and a DuckDB recursive CTE can replay it
value-exact.

Scale shape: each round is one join edges⋈labels + one min-aggregation
— all key-partitioned shuffles, no driver data; rounds needed = graph
diameter (near-dup components are overwhelmingly tiny cliques, so 2–3
rounds in practice; the loop caps at ``max_iters`` and checks
convergence with a scalar probe observed on the generation's own job).
For planet-scale graphs swap the loop body for the large-star/small-star
variant — same interface.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from ..stage import release, stage_frame


def _stage(df: DataFrame, probe: Sequence[Column]) -> tuple[DataFrame, tuple]:
    """Stage ``df`` → (staged frame, ``probe`` observed by the staging job)."""
    if not probe:
        return stage_frame(df), ()
    obs = Observation()
    staged = stage_frame(df.observe(obs, *probe))
    return staged, tuple(obs.get.values())


def iterate(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iters: int,
    probe: Sequence[Column] = (),
    done: Callable[[tuple | None, tuple], bool] = lambda prev, cur: prev == cur,
) -> DataFrame:
    """The one fixed-point loop driver: stage ``init``, then ``step(prev)``
    up to ``max_iters`` times, releasing each superseded generation once
    its successor is staged; return the last generation. ``probe``
    (aggregate Columns) is observed on each generation by its staging
    job; with a probe the loop stops once ``done(previous, this)``
    holds (``previous`` is None for ``init``; default: the tuple repeated).

    Retry safety: the observe node is the last operator before the sink,
    so no Exchange sits above it and it runs in the result stage, whose
    accumulator updates the DAGScheduler applies once per partition — a
    retried task cannot double-count a probe into a wrong stop.
    """
    gen, seen = _stage(init, probe)
    prev = None
    for _ in range(max_iters):
        if probe and done(prev, seen):
            break
        new, cur = _stage(step(gen), probe)
        release(gen)
        gen, prev, seen = new, seen, cur
    return gen


def _hand_back(out: DataFrame, *spent: DataFrame) -> DataFrame:
    """Stage a loop's result, then release the stages it was built from."""
    staged = stage_frame(out)
    for frame in spent:
        release(frame)
    return staged


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iters: int = 10,
) -> DataFrame:
    """Label every vertex with its component's min id → (doc_id, cluster_id).

    ``vertices``: one column ``doc_id`` (singletons allowed — they come
    out as their own cluster). ``edges``: columns ``doc_a``/``doc_b``.
    """
    # ADVICE r16: initialization is fused into propagation round 1, so
    # max_iters <= 0 would still run one round instead of returning
    # identity labels — refuse the degenerate value rather than change
    # semantics silently.
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # undirected: propagate both ways. Stage — the edge list joins
    # against labels EVERY round; without it each iteration recomputes
    # the (expensive) upstream pair-finding lineage from scratch.
    fwd = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    both, (n_edges,) = _stage(
        fwd.unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))),
        [F.count(F.lit(1))],
    )
    # Right-size the loop frames: the near-dup edge list is usually far
    # smaller than the corpus, and per-round task overhead at the
    # session's full shuffle width dominates the tiny joins (AQE cannot
    # coalesce the scan tasks of a staged frame). ~100k edges per
    # partition, never above the session's shuffle width — so a truly
    # large graph keeps full parallelism. The count is observed on the
    # staging job.
    spark = vertices.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(width, n_edges // 100_000 + 1))
    loop_edges = both.coalesce(parts)
    # r16: iterate ONLY over vertices that have at least one edge. A
    # singleton never receives a message and never emits one, so its
    # label is constant (= its own id) through every round — carrying
    # it through the loop shuffles |V| rows per round for nothing.
    # Near-dup edge sets are usually tiny relative to the corpus, so
    # the loop frames shrink from |V| to |touched|; singletons are
    # labeled by one left join AFTER the fixpoint. Exact equivalence:
    # untouched vertices cannot influence any touched vertex (messages
    # flow only along edges) and come out as their own cluster either
    # way. Initialization is FUSED with propagation round 1: after one
    # round a touched vertex's label is min(itself, min neighbor id),
    # which is one dst-keyed aggregation over the undirected edge list
    # — no separate touched-distinct exchange, no identity-label init
    # frame, no round-1 union+groupBy pass.
    round1 = (
        loop_edges.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.min("src").alias("_mn"))
        .select("doc_id", F.least(F.col("doc_id"), F.col("_mn")).alias("cluster_id"))
        .coalesce(parts)
    )

    def step(labels: DataFrame) -> DataFrame:
        msgs = (
            loop_edges.join(labels, loop_edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "cluster_id")
        )
        return (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    # convergence probe: the label sum strictly decreases until the
    # fixpoint (min-propagation is monotone) — one scalar per round,
    # and staging each generation keeps the lineage flat so round k
    # never recomputes rounds 1..k-1. (On an empty edge set the sum is
    # NULL both rounds, which terminates the loop on round 1 — right.)
    labels = iterate(round1, step, max_iters - 1, probe=[F.sum("cluster_id")])
    # Singletons label themselves; touched vertices take the loop
    # fixpoint. Hand back a lineage-free copy.
    return _hand_back(
        vertices.join(labels.withColumnRenamed("cluster_id", "_cc"), "doc_id", "left")
        .select("doc_id", F.coalesce("_cc", F.col("doc_id")).alias("cluster_id")),
        labels,
        both,
    )


def connected_components_twostar(
    vertices: DataFrame,
    edges: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components → (doc_id, cluster_id).

    Same interface and same unique fixpoint as
    :func:`connected_components`, different iteration: alternating
    large-star (every vertex points its LARGER neighbors at the min of
    its neighborhood) and small-star (every vertex re-points its
    smaller neighbors and itself at their min) rounds, per Kiveris et
    al., "Connected Components in MapReduce and Beyond" (SOCC'14).
    Min-label propagation needs rounds = component diameter — fine for
    near-dup cliques (2-3), pathological for chain-shaped components;
    two-star contracts path graphs in O(log n) rounds, so it's the
    swap-in when components may be long and thin (e.g. transitive
    similarity chains). Each round is two join+min-agg passes over the
    edge list — key-partitioned shuffles only; the per-round distinct
    keeps the edge set from ballooning past the star graphs it
    converges to.
    """
    # iterate stages (not persists) every generation: each round
    # references the previous edge set several times (union with its
    # swap, plus the min side), so the LOGICAL plan doubles per round —
    # persist caches data but still canonicalizes the full lineage,
    # which stack-overflows Catalyst after ~8 rounds. Checkpointing
    # truncates the plan to the materialized blocks.
    init = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def step(e: DataFrame) -> DataFrame:
        # large-star: under each u, all neighbors (both directions);
        # larger neighbors re-attach to m = min(neighborhood ∪ {u})
        nbr = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        big = (
            nbr.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: smaller neighbors AND u itself re-attach to the
        # min of the smaller neighborhood
        nbr2 = big.unionByName(
            big.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        sm = nbr2.filter(F.col("v") < F.col("u"))
        m2 = sm.groupBy("u").agg(F.min("v").alias("mv"))
        return (
            sm.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
            .unionByName(m2.select("u", F.col("mv").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    e = iterate(
        init, step, max_iters, probe=[F.count(F.lit(1)), F.sum(F.col("u") + F.col("v"))]
    )
    # fixpoint edge set is a union of stars rooted at component minima:
    # every vertex's label = min(itself, its min neighbor)
    min_nbr = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
    )
    return _hand_back(
        vertices.join(min_nbr, vertices.doc_id == min_nbr.u, "left").select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("mv", F.col("doc_id"))).alias("cluster_id"),
        ),
        e,
    )


def pagerank_fixed_point(
    vertices: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**9,
    damp_pct: int = 85,
    until_stable: bool = False,
    max_iters: int = 50,
    tol_units: int = 10**6,
) -> DataFrame:
    """Fixed-iteration PageRank in integer fixed-point — centrality over
    a directed graph (``vertices``: ``id``; ``edges``: ``src``/``dst``),
    the ranking step retrieval / curation pipelines run over a k-NN or
    link graph.

    Determinism is the whole design: ranks live as BIGINT multiples of
    ``1/scale`` and every operation is integer (floor-div contribution
    splits, integer damping ``(damp·Σ)÷100``), so the per-vertex sums
    are associative — partitioning, shuffle width, and summation order
    can never drift a rank, and a SQL oracle replays the exact bits.
    Floating-point PageRank cannot make that guarantee (float sums
    reorder across partitions).

    Convention: contributions flow only along existing edges; a
    dangling vertex (no out-edges) contributes nothing — its mass
    evaporates rather than redistributing, the bounded-iteration
    variant of the standard lost-mass convention, identical on both
    engines. Fixed ``iters`` (not convergence-tested) keeps the plan
    static: each round is one edges⋈ranks join + one dst-keyed integer
    sum — the same key-partitioned shuffle pair any iterative graph
    algorithm pays, no driver data, no collect.

    ``until_stable=True`` (VERDICT r7 item 9) is the production mode:
    iterate until ``max |Δrank| <= tol_units`` or ``max_iters``. The
    probe is ``max(abs(r - r_prev))``, observed on each generation's
    staging job (:func:`iterate`); ``r_prev`` rides in by an id-keyed
    join — exact, not a sampled heuristic. The stop rule is a
    TOLERANCE, not exact equality, because integer floor noise makes
    cyclic graphs oscillate by O(10^5) units forever — default
    ``tol_units=10^6`` is a 10^-3 rank tolerance at the default scale,
    reached in ~43 rounds on a 2-cycle. Per-generation ranks are
    staged in this mode (each generation is referenced twice: next
    round + the ``r_prev`` carry), keeping the plan linear. The registered
    oracle queries keep the fixed-``iters`` form — the iteration count
    of a converged run is data-dependent, which a static SQL oracle
    can't replay.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Materialize (edge, outdeg) once: the list is re-joined EVERY
    # round, and without truncation the (expensive) upstream graph
    # build would be recomputed per iteration inside one final plan.
    # stage_frame: localCheckpoint locally, parquet at cluster scale
    # (conf-selectable sink); its size is
    # |E| ≈ k·|V| rows of three longs — the standard materialization
    # every iterative graph algorithm pays.
    ed = edges.join(deg, "src").transform(stage_frame)
    base = (scale * (100 - damp_pct)) // 100

    # r16: the loop frame holds RECEIVERS only (vertices with ≥1
    # in-edge). A vertex with no in-edge has a CONSTANT rank — scale
    # before round 1, base ever after — so carrying it through the
    # loop joined |V| rows per round for a value the contribution pass
    # can coalesce in. Round 1 needs no ranks join at all (every
    # source's rank is the literal ``scale``); later rounds left-join
    # the receiver frame and default missing sources to ``base``.
    # Non-receivers take their constant in ONE final left join.
    # Bit-identical to the full-frame loop (verified frame-equal):
    # every contribution reads the same integer rank either way.
    def step(prev: DataFrame | None) -> DataFrame:
        if prev is None:
            contrib = ed.select(
                "dst", F.expr(f"CAST({scale} AS BIGINT) div outdeg").alias("c")
            )
        else:
            contrib = (
                ed.join(prev.withColumnRenamed("id", "src"), "src", "left")
                .select(
                    "dst",
                    F.expr(f"coalesce(r, CAST({base} AS BIGINT)) div outdeg").alias("c"),
                )
            )
        insum = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        return insum.select(
            F.col("dst").alias("id"),
            (F.lit(base) + F.expr(f"({damp_pct} * s) div 100")).cast("long").alias("r"),
        )

    ranks: DataFrame | None = None
    if until_stable and max_iters > 0:
        # Non-receivers move exactly once (scale → base, conceptually
        # in round 1) and are flat afterwards; fold that one movement
        # into the round-1 probe as a scalar so the receiver-frame
        # probe stays exact for any tolerance. Bounded: one count.
        n_nonrecv = vertices.join(
            ed.select(F.col("dst").alias("id")).distinct(), "id", "anti"
        ).count()
        ranks = iterate(
            step(None).withColumn("r_prev", F.lit(scale).cast("long")),
            lambda prev: step(prev).join(prev.select("id", F.col("r").alias("r_prev")), "id"),
            max_iters - 1,
            probe=[F.max(F.abs(F.col("r") - F.col("r_prev")))],
            done=lambda prev, cur: max(
                cur[0] or 0, scale - base if prev is None and n_nonrecv else 0
            ) <= tol_units,
        )
    elif not until_stable:
        for _ in range(iters):
            ranks = step(ranks)
    if ranks is None:  # iters == 0: every rank is the initial scale
        return vertices.select("id", F.lit(scale).cast("long").alias("pagerank"))
    return vertices.join(ranks, "id", "left").select(
        "id", F.coalesce("r", F.lit(base).cast("long")).alias("pagerank")
    )


def label_propagation_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    until_stable: bool = False,
    max_iters: int = 50,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., 2007) with a
    deterministic total order — community detection over a similarity
    graph, fixed-iteration form → (id, community).

    Classic LPA is notoriously nondeterministic (random visit order,
    random tie-breaks); this form removes every source of drift so a
    SQL oracle replays it bit-exact: synchronous rounds (all updates
    read the PREVIOUS round's labels), each vertex adopting the most
    frequent label among its undirected neighbors with ties broken to
    the SMALLEST label (in-row mode over the sorted neighbor-label
    list — see the r16 note at ``step``), isolated vertices keeping
    their label. Fixed ``iters`` keeps the plan static; per round one
    edges⋈labels equi-join + ONE dst-keyed aggregation —
    key-partitioned shuffles only. The undirected edge
    list materializes once (localCheckpoint — the parquet-staging
    point of a cluster run, as in :func:`pagerank_fixed_point`).

    ``until_stable=True`` (VERDICT r7 item 9) iterates until NO vertex
    changes label (labels are discrete, so exact stability is the
    right stop — unlike the PageRank tolerance) or ``max_iters``
    (synchronous LPA can 2-cycle on bipartite structures; the cap is
    the standard guard). Probe = ``sum(changed)`` over a flag each
    generation carries, observed on its staging job (:func:`iterate`).
    Registered oracles keep the fixed-``iters`` form — a converged
    run's round count is data-dependent, not SQL-replayable.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stage_frame)
    )

    # r16: ONE dst-keyed aggregation per round instead of two. The
    # winning label is the mode of the neighbor multiset (tie → the
    # SMALLEST label); the (dst, nlbl)-count + per-dst max-struct pair
    # paid two exchanges per round for it. collect_list per dst is
    # bounded by vertex degree (k-NN graphs: ~2k labels), and the mode
    # is one aggregate() walk over the SORTED list — the strict '>'
    # keeps the FIRST longest run, which in ascending order is exactly
    # the smallest label among tied counts, so the result is
    # bit-identical to the max(struct(n, -label)) idiom (verified
    # frame-equal on the fixtures). Integer-exact throughout.
    _mode_expr = (
        "aggregate(array_sort(_ls), "
        "named_struct('p', CAST(NULL AS BIGINT), 'r', 0, 'b', 0, "
        "'m', CAST(NULL AS BIGINT)), "
        "(a, x) -> named_struct('p', x, 'r', IF(x <=> a.p, a.r + 1, 1), "
        "'b', GREATEST(a.b, IF(x <=> a.p, a.r + 1, 1)), "
        "'m', IF(IF(x <=> a.p, a.r + 1, 1) > a.b, x, a.m)), a -> a.m)"
    )

    def step(prev: DataFrame) -> DataFrame:
        win = (
            und.join(prev.withColumnRenamed("id", "src").withColumnRenamed("lbl", "nlbl"), "src")
            .groupBy("dst")
            .agg(F.collect_list("nlbl").alias("_ls"))
            .select(F.col("dst").alias("id"), F.expr(_mode_expr).alias("wlbl"))
        )
        # Each generation references the previous one TWICE (the
        # neighbor count and the carry-over side), so an unchecked
        # lineage doubles per round (2^iters input scans — 16 at
        # iters=3, plan-audited). Materializing the |V|-row label
        # table per round keeps the plan linear, same pattern as the
        # two-star generations.
        new_lbl = F.coalesce("wlbl", "lbl")
        return prev.join(win, "id", "left").select(
            "id", new_lbl.alias("lbl"), (new_lbl != F.col("lbl")).cast("int").alias("changed")
        )

    # Every initial label is new; an empty vertex set stops at once.
    labels = iterate(
        vertices.select("id", F.col("id").alias("lbl"), F.lit(1).alias("changed")),
        step,
        max_iters if until_stable else iters,
        probe=[F.sum("changed")] if until_stable else (),
        done=lambda _, cur: not cur[0],
    )
    return labels.select("id", F.col("lbl").cast("long").alias("community"))


def kmeans_fixed_point(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """Lloyd k-means over an embedding column in integer fixed-point —
    the canonical corpus-clustering step of a curation pipeline
    (topic bucketing, per-cluster sampling quotas, semantic sharding),
    → (vec_id, label, cluster, dist).

    Float k-means is nondeterministic on a cluster twice over: the
    centroid MEANS are float sums whose value drifts with partitioning
    and summation order, and a vector near-equidistant between two
    centroids can flip assignment on that drift. This form removes
    both: components are scaled to BIGINT (``round(x·scale)``), every
    distance is an exact integer (sum of squared int diffs, |x|≤2·10⁶
    per term × 64 dims ≈ 2.6·10¹⁴ ≪ 2⁶³), assignment ties break to the
    lowest centroid id via one ``least(struct(dist, cid))``, and the
    centroid update is ``floor(sum/count)`` on BIGINT sums — exact
    while |sum| < 2⁵³, i.e. through ~10⁹ vectors per cluster at this
    scale; past that, swap the division to DECIMAL(38). Same bits on
    any shuffle width, and a SQL oracle replays the run value-exact.

    Seeding: the ``k`` lowest vec_ids (the seeded-medoid convention of
    the IVF family, operators/similarity.py); production would use
    k-means‖ sampling — the iteration body is seeding-agnostic. An
    emptied cluster keeps its previous centroid (deterministic on both
    engines).

    Scale shape (the textbook broadcast-Lloyd): per round the
    assignment pass is MAP-SIDE ONLY — centroids ride into the plan as
    k literal arrays (k·dim longs, a bounded model parameter like the
    IVF codebooks), so there is no join and no shuffle; the update
    pass posexplodes to (cluster, pos) and hash-aggregates — one
    shuffle of k·dim cells with map-side partial sums. The per-round
    driver traffic is the k·dim centroid matrix, never data rows. The
    scaled-int projection materializes once (localCheckpoint — the
    parquet-staging point of a cluster run) because every round's two
    passes re-read it.

    ``rounds`` = number of assignment passes (rounds−1 centroid
    updates), fixed so the plan is static and a SQL oracle can replay
    it. A converged variant would stop on a max-|Δcentroid| test; its
    state is a driver-side dict, so it has no generation to :func:`iterate`.
    """
    sv = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * scale).cast("long"),
        ).alias("s"),
    ).transform(stage_frame)

    # k×dim bounded model parameter — the same sanctioned collect
    # budget as the IVF codebooks (operators/similarity.py).
    cents = {
        cid: [int(v) for v in row["s"]]
        for cid, row in enumerate(sv.orderBy("vec_id").limit(k).collect())
    }

    def choose(model: dict[int, list[int]]):
        # Symbolic literal-matrix argmin — the pq_topk encode shape
        # (similarity.py): the centroid matrix rides in as ONE array
        # literal, each centroid's d2 is a FLAT unrolled integer sum
        # inside the per-centroid lambda (one interpreter dispatch per
        # centroid, not per element — the zip_with/aggregate HOF form
        # this replaced measured ~1.9x wall on the sf0.1 bench), and
        # array_min over (d, c) structs is the same lowest-cid
        # tie-break as least-of-structs. Exact integers throughout, so
        # the rewrite is bit-identical to the oracle's replay.
        cents_sorted = sorted(model.items())
        dim_ = len(cents_sorted[0][1])
        cws = "array(" + ",".join(
            "array(" + ",".join(f"CAST({v} AS BIGINT)" for v in c) + ")"
            for _, c in cents_sorted
        ) + ")"
        d2 = " + ".join(
            f"(element_at(s, {e + 1}) - element_at(cw, {e + 1}))"
            f" * (element_at(s, {e + 1}) - element_at(cw, {e + 1}))"
            for e in range(dim_)
        )
        return F.expr(
            f"array_min(transform({cws}, (cw, i) -> "
            f"named_struct('d', {d2}, 'c', CAST(i AS BIGINT))))"
        )

    for _ in range(rounds - 1):
        assigned = sv.withColumn("cluster", choose(cents)["c"])
        rows = (
            assigned.select("cluster", F.posexplode("s"))
            .groupBy("cluster", "pos")
            .agg(
                F.floor(F.sum("col") / F.count(F.lit(1))).cast("long").alias("v")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(r["v"])
        cents = {
            cid: (
                [by_cid[cid][p] for p in range(len(old))] if cid in by_cid else old
            )
            for cid, old in cents.items()
        }

    final = sv.withColumn("ch", choose(cents))
    return final.select(
        "vec_id",
        "label",
        F.col("ch.c").alias("cluster"),
        F.col("ch.d").alias("dist"),
    )


def bfs_hops_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    source: int,
    iters: int = 4,
) -> DataFrame:
    """Fixed-round breadth-first hop distances from one source over an
    undirected graph → (id, hops) with −1 for vertices unreached
    within ``iters`` rounds — the reachability / radius probe of the
    graph family (e.g. "how many hops of the similarity graph does a
    seed document influence").

    Pure integer min-propagation, so deterministic on any width: round
    i sets ``d(v) = least(d(v), min over in-neighbors u of d(u)+1)``
    (``least`` skips NULLs identically on both engines — an unreached
    vertex carries NULL until first touched). Fixed rounds keep the
    plan static for the SQL oracle; a production run iterates until
    the frontier empties (an observed probe on :func:`iterate`) and
    propagates only the CHANGED frontier — the delta optimization
    every Pregel implementation ships; the fixed-round form's
    per-round cost is one edges⋈dist equi-join + one dst-keyed integer
    min, key-partitioned shuffles only. :func:`iterate` stages every
    generation, keeping the plan linear — each generation is read by
    both the join and the carry side.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stage_frame)
    )
    dist = vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0)).otherwise(F.lit(None))
        .cast("long")
        .alias("d"),
    )

    def step(dist: DataFrame) -> DataFrame:
        nb = (
            und.join(dist.withColumnRenamed("id", "src"), "src")
            .filter(F.col("d").isNotNull())
            .groupBy("dst")
            .agg(F.min(F.col("d") + 1).alias("nd"))
        )
        return dist.join(nb.withColumnRenamed("dst", "id"), "id", "left").select(
            "id", F.least("d", "nd").alias("d")
        )

    dist = iterate(dist, step, iters)
    return dist.select("id", F.coalesce("d", F.lit(-1)).cast("long").alias("hops"))


def kcore_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    core_k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected graph →
    (vec_id, in_core, core_deg): repeatedly drop vertices of degree
    < ``core_k`` with their incident edges; after ``rounds`` passes,
    a vertex is in-core iff it still carries an edge. The
    density-skeleton primitive of graph curation (the k-core is where
    communities, spam rings and near-dup hubs live; the periphery is
    what a sampler can safely thin).

    ``rounds`` is FIXED so the plan is static and a SQL oracle unrolls
    it; the true fixpoint needs ≤ diameter rounds — a converged variant
    would pass :func:`iterate` an edge-count probe (stop when no edge
    is dropped).

    Scale shape: per round ONE degree aggregation (key = vertex id) and
    two semi-joins filtering the edge list on its own keys — the edge
    frame shrinks monotonically, each generation staged by
    :func:`iterate` so the lineage stays linear, exactly like the CC /
    LPA / PageRank iterations. Every quantity is an exact integer.
    """
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def step(und: DataFrame) -> DataFrame:
        keep = (
            und.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= core_k)
            .select("src")
        )
        return und.join(keep, "src", "semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "semi"
        )

    und = iterate(both.distinct(), step, rounds)
    deg_f = und.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    return (
        vertices.join(deg_f, vertices["id"] == deg_f["src"], "left")
        .select(
            vertices["id"].alias("vec_id"),
            F.when(F.col("core_deg").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_core"),
            F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
        )
    )
