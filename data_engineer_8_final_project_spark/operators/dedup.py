"""Deduplication operators over ``documents``.

Three tiers, in increasing fuzziness — all designed for the 100 TB
path (shuffle on content-hash / shingle keys, never a driver collect):

1. **Exact** — group by content hash (md5), keep min doc_id. One
   shuffle on a uniformly-distributed key; the canonical "hash-groupBy"
   dedup.
2. **N-gram Jaccard** — shingle → explode → self-join on shingle →
   per-pair intersection count → Jaccard. The shingle join IS the LSH
   "band" idea with bands = every shingle; frequency-capping the
   shingle key (drop shingles occurring in > max_df docs) bounds the
   candidate-pair blowup exactly like dropping stop-bands in MinHash
   LSH. Fully SQL-expressible → strong DuckDB oracle.
3. **MinHash-LSH (pyspark.ml)** — MinHashLSH over a HashingTF of
   shingles; approximate, not SQL-expressible (registered rows-only,
   recall-gated in tests/test_dedup.py).
4. **MinHash-LSH (native)** — the same Broder construction from
   built-ins only (md5-derived shingle hash, deterministic affine
   permutations, r-row banding). Whole-stage codegen, one doc_id
   shuffle, and — unlike the ml tier — fully deterministic, so it
   carries a value-exact DuckDB oracle. The scale path when even the
   capped shingle join is too big.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, shingles, tokens
from ..stage import stage_frame

#: SimHash width. 60 bits = 15 hex chars of md5 — the widest slice that
#: still fits a signed int64 in BOTH Spark (``conv(hex,16,10)``) and
#: DuckDB (``CAST('0x…' AS BIGINT)``), so the oracle can reproduce the
#: signature bit-for-bit.
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15  # 4 bands of 15 bits → LSH blocking key


def _spread(documents: DataFrame) -> DataFrame:
    """Repartition by doc_id before explode-heavy work.

    Shingling fans each document out ~token-count×, so input-split
    sizing (bytes of text) underestimates downstream work by that
    factor — a few parquet row groups would otherwise serialize the
    whole explode+join on a handful of cores. Hashing on doc_id spreads
    documents evenly (doc_id is unique → no skew) and the per-doc
    ``groupBy("doc_id")`` aggregations downstream reuse the
    partitioning instead of adding a shuffle.
    """
    spark = documents.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return documents.repartition(n, "doc_id")


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Group exact-duplicate texts: canonical (min) doc_id + copy count.

    Hashes the text first so the shuffle key is a short uniform md5,
    not the full document body — at 100 TB the shuffle moves 32-byte
    keys + ids, never the text.
    """
    return (
        documents.select(F.col("doc_id"), fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shared_shingle_pairs(
    documents: DataFrame,
    shingle_n: int,
    min_shared: int,
    max_df: int,
) -> tuple[DataFrame, DataFrame]:
    """``(pairs, sizes)``: unordered co-shingle counts per doc pair
    (doc_a < doc_b, shared_shingles ≥ min_shared) and per-doc distinct
    shingle counts — the blocking core shared by
    :func:`jaccard_candidate_pairs` (resemblance) and
    :func:`containment_pairs` (asymmetric overlap).

    ``max_df`` drops shingles present in more than that many documents
    before any pair is produced — the skew/blowup guard: a stop-shingle
    shared by 10 k docs would alone produce 10k²/2 candidate pairs.
    """
    spread_docs = _spread(documents)
    sh = spread_docs.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", shingle_n))).alias("sh")
    )
    # distinct shingle count per doc (union term / containment denominator):
    # computed as size() of the per-row distinct-shingle array — a narrow
    # map over the spread docs, NO explode + doc_id re-aggregation branch
    # (r16: that branch re-ran the whole tokenize+shingle+explode lineage
    # and paid an extra hash aggregate; count-of-distinct-per-row is a
    # per-row expression). Docs with zero shingles now carry an n_sh=0
    # row instead of being absent — identical downstream: ``sizes`` is
    # only ever INNER-joined from pair rows, and a doc with no shingles
    # cannot appear in any pair.
    sizes = spread_docs.select(
        "doc_id",
        # cast: F.size is INT; the groupBy-count this replaces was LONG
        F.size(F.array_distinct(shingles("text", shingle_n))).cast("long").alias("n_sh"),
    )
    # One shuffle on sh builds the posting list per shingle; the df cap
    # (drop stop-shingles) and the singleton drop apply BEFORE any pair
    # exists. Pair production is then a per-row array comprehension —
    # all (ds[i], ds[j]) i<j via transform-with-index — never a
    # self-join: A/B-benched 2× faster than the postings self-join at
    # 8× data (the join shuffled every (doc_id, sh) row twice; this
    # shuffles each once and explodes ≤ max_df²/2 bounded pairs).
    lists = (
        sh.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter((F.size("ds") <= max_df) & (F.size("ds") >= 2))
        .select(F.array_sort("ds").alias("ds"))
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    pairs = (
        lists.select(F.explode(pairs_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )
    return pairs, sizes


def jaccard_candidate_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Near-duplicate candidate pairs by n-gram Jaccard similarity.

    Returns (doc_a, doc_b, shared_shingles, jaccard) with doc_a < doc_b.
    See :func:`_shared_shingle_pairs` for the blocking/scale design.
    """
    pairs, sizes = _shared_shingle_pairs(documents, shingle_n, min_shared, max_df)
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles")),
                4,
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int = 100,
    threshold: float = 0.3,
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: ``C(d → c) = |S_d ∩ S_c| /
    |S_d|`` ≥ threshold — quote/subset detection (Broder's containment,
    "On the resemblance and containment of documents", 1997).

    Resemblance (Jaccard) misses the asymmetric near-dup that matters
    for training-data curation: a short document quoted wholesale
    inside a long one has a small union-normalized score but
    containment ≈ 1 — exactly the "document d is mostly inside
    container c" verdict a dedup or decontamination gate wants (a test
    prompt embedded in a train document contaminates regardless of how
    much OTHER text the train document carries).

    Returns (doc_id, container_id, shared_shingles, containment), both
    directions of every co-shingle pair scored independently — the
    shared-shingle count is symmetric, so the unordered pair is counted
    ONCE (:func:`_shared_shingle_pairs`, df-capped posting lists, no
    self-join) and mirrored with one generator, same pattern as the
    semantic-dedup cosine mirror: no second plan branch re-runs the
    pair stage.
    """
    pairs, sizes = _shared_shingle_pairs(documents, shingle_n, min_shared, max_df)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("d"), F.col("doc_b").alias("c")),
                F.struct(F.col("doc_b").alias("d"), F.col("doc_a").alias("c")),
            )
        ).alias("e"),
        "shared_shingles",
    ).select(
        F.col("e.d").alias("doc_id"), F.col("e.c").alias("container_id"), "shared_shingles"
    )
    return (
        directed.join(sizes, "doc_id")
        .select(
            "doc_id",
            "container_id",
            "shared_shingles",
            F.round(F.col("shared_shingles") / F.col("n_sh"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_attrition_curve(
    documents: DataFrame,
    thresholds: list[float] | None = None,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Dedup attrition sweep: at each Jaccard threshold, how many
    near-dup pairs fire and how many documents the min-id greedy would
    drop — the tuning curve a curation engineer reads BEFORE committing
    a corpus-wide dedup threshold (too low: real content lost; too
    high: near-dups survive into training).

    One pass: the pair stage runs ONCE (:func:`jaccard_candidate_pairs`
    — df-capped posting lists, no self-join); each pair is then fanned
    out to the thresholds it clears with a literal-array explode (≤
    |thresholds| rows per pair, no re-scan per threshold), and the
    greedy drop count is ``approx-free`` distinct-doc_b per threshold
    (doc_a < doc_b, so doc_b is the min-id greedy's larger side —
    exactly the rule ``dedup_exact``/``semantic_dedup`` replay).

    Returns (threshold, n_pairs, n_docs_dropped) for thresholds with at
    least one firing pair (empty bands drop on both engine and oracle
    identically — inner-filter semantics).
    """
    ts = thresholds if thresholds is not None else [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    pairs = jaccard_candidate_pairs(documents, shingle_n, min_shared, max_df)
    t_arr = F.array(*[F.lit(float(t)) for t in ts])
    return (
        pairs.select("doc_b", "jaccard", F.explode(t_arr).alias("threshold"))
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
        )
    )


def simhash_signatures(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document 60-bit SimHash signature → (doc_id, simhash).

    Classic Charikar SimHash: every token occurrence votes ±1 on each
    bit position of its 60-bit hash; the signature's bit j is 1 iff the
    summed vote is positive. Near-identical documents differ in few
    token occurrences → few flipped bit-votes → small Hamming distance.

    Scale shape: explode tokens (spread by doc_id first, see
    :func:`_spread`), one hash-aggregation with 60 conditional sums —
    all whole-stage-codegen built-ins, one shuffle on doc_id, output is
    one row per document regardless of corpus size.
    """
    tok = _spread(documents).select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    h60 = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    hashed = tok.select("doc_id", h60.alias("h"))
    # one F.expr per vote column / one for the signature: the
    # Column-per-node form built ~400 py4j round-trips and a tree
    # Catalyst re-analyzed per call (~3 s before any action); the SQL
    # text form is the identical plan built in milliseconds
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END) AS w{j}"
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    signature = F.expr(
        " + ".join(
            f"(CASE WHEN w{j} > 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(SIMHASH_BITS)
        )
    )
    return votes.select("doc_id", signature.alias("simhash"))


def simhash_near_dup_pairs(documents: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs by banded SimHash → (doc_a, doc_b, hamming).

    LSH blocking: split the 60-bit signature into 4 bands of 15 bits;
    two documents are candidates iff they agree exactly on ≥1 band
    (guaranteed when hamming ≤ 3 by pigeonhole; probabilistic above).
    Candidates are verified with ``bit_count(xor)`` ≤ ``max_hamming``.

    The band join is the only pair-producing step and its key space is
    (band_no, 2^15 values) — bounded fan-out per bucket, no all-pairs
    blowup. At 100 TB a hot band bucket (many near-identical docs) is
    real skew; AQE skew-join splitting handles it.

    OUTPUT CONTRACT — quadratic in duplicate-group size, by design: a
    group of n mutual near-dups emits n(n-1)/2 pairs, so on dup-dense
    corpora the RESULT itself explodes even though the plan is bucketed
    (r14: 128× replication → 2.45e9 pairs). This form is a
    DIAGNOSTIC for inspecting pair structure; production dedup at scale
    consumes the linear-output forms instead: per-document
    :func:`simhash_dedup_verdicts`, or cluster-level ``dup_clusters`` /
    ``dup_cluster_representatives`` (operators/clusters.py).
    """
    sig = simhash_signatures(documents)
    return _simhash_pairs(sig, max_hamming).orderBy("doc_a", "doc_b")


def _simhash_pairs(
    sig: DataFrame, max_hamming: int, dedup_pairs: bool = True
) -> DataFrame:
    """Banded candidate pairs + hamming verify from a ``(doc_id,
    simhash)`` frame — the shared core of :func:`simhash_near_dup_pairs`
    (pair form) and :func:`simhash_dedup_verdicts` (verdict form, which
    stages the signature frame so the agg runs once).

    ``dedup_pairs=False`` skips the pair-level distinct (a pair
    colliding in several bands appears once per band): the verdict
    consumer only needs the distinct DROPPED-doc set, so its own
    ``distinct(doc_b)`` subsumes pair dedup — and on a high-duplication
    corpus the pair-level distinct is the dominant hash aggregation
    (2.45e9 rows at the r14 128x leg) that the verdict
    form exists to avoid."""
    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_no"),
                        F.shiftright("simhash", k * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band_no"), F.col("b.band_val"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band_no", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band_no", "band_val"
    )
    cand = (
        a.join(b, ["band_no", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long").alias("hamming"),
        )
    )
    if dedup_pairs:
        cand = cand.distinct()  # a pair can collide in several bands
    return cand.filter(F.col("hamming") <= max_hamming)


def simhash_dedup_verdicts(documents: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Per-document keep/drop verdicts from banded SimHash — the form a
    production dedup CONSUMES (r14 scale lesson: on a
    high-duplication corpus the all-pairs set is output-quadratic in
    dup-group size — 2.45e9 rows at the 128x leg — while the verdict
    frame is always exactly |documents| rows).

    Deterministic min-id greedy, same rule as ``semantic_dedup`` /
    ``dedup_exact``: doc ``d`` is dropped iff some ``d' < d`` sits
    within ``max_hamming`` of it through a shared band. The signature
    frame is staged once (stage_frame: localCheckpoint locally, parquet
    at cluster scale) and feeds the band self-join AND the verdict
    join, so the 60-column vote aggregation runs once, not three
    times. Returns (doc_id, simhash, is_kept) — the signature rides
    along because downstream consumers (incremental ingest, cross-
    snapshot dedup) re-block against it without re-tokenizing.
    """
    sig = simhash_signatures(documents).transform(stage_frame)
    # dedup_pairs=False: distinct(doc_b) below subsumes pair dedup and
    # skips the pair-level hash agg that dominates on dup-heavy corpora
    dropped = (
        _simhash_pairs(sig, max_hamming, dedup_pairs=False)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    # unhinted left join: `dropped` is data-sized on an all-dup corpus,
    # so broadcast is AQE's call, never forced (same rationale as
    # semantic_dedup_verdicts)
    return sig.join(dropped, "doc_id", "left").select(
        "doc_id", "simhash", F.col("_dup").isNull().alias("is_kept")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    max_distance: float = 0.6,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash-LSH (pyspark.ml).

    The scale path: cost is O(docs × hash_tables), independent of pair
    count until the final bucket join. Jaccard distance threshold
    ``max_distance`` (= 1 − similarity). Not SQL-expressible →
    registered with a rows-only check.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = _spread(documents).select("doc_id", shingles("text", shingle_n).alias("sh")).filter(
        F.size("sh") > 0
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features)
    feats = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, max_distance, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_verified_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    candidate_max_distance: float = 0.5,
    min_jaccard_x10: int = 7,
) -> DataFrame:
    """MinHash-LSH candidates post-verified by EXACT shingle Jaccard.

    The production LSH+verify pattern: the (seeded, deterministic)
    pyspark.ml MinHash-LSH prunes the pair space to candidates, then an
    exact Jaccard over the two documents' distinct shingle sets keeps
    only true near-dups. The emitted set is therefore decidable — it
    equals *all* pairs with Jaccard ≥ threshold whenever LSH recall at
    the threshold is total, which the wide margin guarantees in
    practice: candidates are kept out to distance 0.5 while the verify
    keeps only similarity ≥ 0.7, so a true pair is missed only if all
    ``num_hash_tables`` OR-ed tables miss (≤ 0.3^8 ≈ 7e-5 per pair,
    and deterministic per seed). The threshold compare is an integer
    cross-multiply (``shared*10 ≥ union*min_jaccard_x10``) so the
    boundary is bit-exact in any engine, float-free.

    Scale: LSH cost is O(docs × tables); the verify join touches only
    candidate pairs and ships shingle arrays for those pairs alone.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = _spread(documents).select(
        "doc_id", F.array_distinct(shingles("text", shingle_n)).alias("sh")
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features)
    feats = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    cand = lsh.fit(feats).approxSimilarityJoin(
        feats, feats, candidate_max_distance, distCol="lsh_dist"
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = (F.size("sh_a") + F.size("sh_b")).cast("long") - shared
    return (
        cand.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("datasetA.sh").alias("sh_a"),
            F.col("datasetB.sh").alias("sh_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", shared.alias("shared_shingles"), union.alias("union_sh"))
        .filter(F.col("shared_shingles") * 10 >= F.col("union_sh") * min_jaccard_x10)
        .select(
            "doc_a",
            "doc_b",
            "shared_shingles",
            F.round(F.col("shared_shingles") / F.col("union_sh"), 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


#: Modulus for the native MinHash permutation family: the Mersenne
#: prime 2³¹−1. Hash values and coefficients both stay < 2³¹, so the
#: affine rehash ``(a·h + b) mod p`` peaks below 2⁶² — safe in int64
#: under Spark 4 ANSI overflow checking AND reproducible in DuckDB.
MINHASH_PRIME = 2147483647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine permutation family.

    splitmix64-style integer mixing (same constants as
    similarity._hyperplane) — stable across runs/engines with no RNG
    state, so the DuckDB oracle can embed the identical literals.
    """
    coeffs = []
    for i in range(num_hashes):
        h = ((i + 1) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
        a = (h % (MINHASH_PRIME - 1)) + 1  # 1..p-1 (never the zero map)
        g = ((i + 1) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        g ^= g >> 29
        b = g % MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def minhash_signatures_native(
    documents: DataFrame, shingle_n: int = 3, num_hashes: int = 24
) -> DataFrame:
    """Per-document native MinHash signature → (doc_id, m0..m{k-1}).

    Classic Broder MinHash with the one-hash trick: each distinct
    shingle gets one md5-derived 60-bit value (the same derivation the
    SimHash tier uses), each of the k permutations is an affine rehash
    mod 2³¹−1, and the signature component is the min over the
    document's shingles. Everything is built-in/codegen (no Python, no
    pyspark.ml), one shuffle on doc_id, k conditional mins — and fully
    SQL-expressible, so unlike the pyspark.ml tier this one carries a
    value-exact DuckDB oracle.
    """
    sh = _spread(documents).select(
        "doc_id", F.explode(F.array_distinct(shingles("text", shingle_n))).alias("sh")
    )
    hv = F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long") % MINHASH_PRIME
    hashed = sh.select("doc_id", hv.alias("hv"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("hv") * F.lit(a) + F.lit(b)) % MINHASH_PRIME).alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )


def minhash_native_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    num_hashes: int = 24,
    band_rows: int = 2,
    max_bucket: int = 100,
    min_est: float = 0.25,
) -> DataFrame:
    """Near-dup pairs via native banded MinHash → (doc_a, doc_b, est_jaccard).

    LSH banding over :func:`minhash_signatures_native`: k hashes split
    into k/r bands of r rows; docs agreeing exactly on ≥1 band are
    candidates; ``est_jaccard`` is the fraction of matching signature
    components (the unbiased Jaccard estimator). ``max_bucket`` is the
    blowup guard (drop degenerate buckets before any pair exists, same
    role as jaccard's ``max_df``); pair production reuses the
    collect_list + pair-explode pattern — bounded, never a self-join.

    Fully deterministic → the DuckDB oracle replays it value-exact;
    recall vs exact Jaccard is additionally gated in tests/test_dedup.py.
    """
    assert band_rows <= 2, "band value packs r components into int64 — r ≤ 2"
    assert num_hashes % band_rows == 0
    sig = minhash_signatures_native(documents, shingle_n, num_hashes)
    n_bands = num_hashes // band_rows

    def band_val(j: int):
        val = F.lit(0).cast("long")
        for i in range(j * band_rows, (j + 1) * band_rows):
            val = val * MINHASH_PRIME + F.col(f"m{i}")
        return val

    # Signatures ride along as an array column so the pair stage never
    # re-joins (and never recomputes) the signature relation: one md5
    # pass, one doc_id shuffle, one band shuffle — no join operator at
    # all. The array adds k*8 bytes per band row to the shuffle, a
    # fixed small constant per doc; the two signature re-shuffles and
    # the full shingle re-hash it replaces grow with corpus size.
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    bands = sig.select(
        "doc_id",
        sig_arr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band_no"), band_val(j).alias("bv"))
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig", F.col("b.band_no"), F.col("b.bv"))
    buckets = (
        bands.groupBy("band_no", "bv")
        .agg(F.collect_list(F.struct("doc_id", "sig")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
        # struct sort orders by doc_id (first field) — same pair order
        # as the plain doc_id formulation
        .select(F.array_sort("ds").alias("ds"))
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    matched = F.size(
        F.filter(
            F.zip_with(F.col("p.a.sig"), F.col("p.b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    # Score BEFORE deduplicating (r17): est_jaccard is a pure function
    # of the unordered pair, so every band-duplicate of a pair carries
    # the identical value and the score filter commutes with the dedup.
    # The old order deduplicated first, which made dropDuplicates a
    # SortAggregate pair (first() over the two array<bigint> signatures
    # is not hash-aggregable) whose exchange shipped both 24-component
    # signatures per candidate row; scoring first drops the arrays at
    # the projection, the filter prunes below-threshold candidates
    # before the shuffle, and the dedup becomes a fixed-width
    # HashAggregate over (doc_a, doc_b, est) — narrower exchange, no
    # sort. The 24-element zip_with re-runs per band-duplicate instead
    # of per unique pair; that is map-side codegen work, measured
    # cheaper than the sorts it replaces.
    return (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.round(matched / F.lit(float(num_hashes)), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est)
        .dropDuplicates(["doc_a", "doc_b"])  # a pair can agree on several bands
    )


def incremental_near_dups(
    documents: DataFrame,
    new_pct: int = 20,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int = 100,
    min_jaccard: float = 0.3,
) -> DataFrame:
    """Incremental ingest dedup: screen a NEW batch against the
    existing corpus — new×corpus comparisons only, never corpus×corpus.

    The daily-ingestion shape at 100 TB: the corpus is quadratically
    large but frozen; only the incoming slice needs near-dup verdicts,
    so the pair space is |new|·|corpus-in-block|, not |corpus|². Here
    the "new" batch is the deterministic md5 split ``bucket(doc_id) <
    new_pct`` (the same portable idiom as hash_split — in production it
    would be today's partition). Posting lists are built over the
    combined shingle stream (the df cap must see corpus-wide
    frequencies to drop stop-shingles), then each list is partitioned
    into new/old ids and ONLY the new×old cross products explode —
    ≤ max_df²/4 bounded pairs per shingle, zero old×old work.

    Returns one row per new document: ``(doc_id, verdict dup|unique,
    n_corpus_matches, best_match_id, best_jaccard)`` with sentinel
    ``-1 / 0.0`` (not NULL) for uniques, so the frame is
    fully-typed for engine-portable hashing. Threshold and tie-break
    both use the ROUNDED jaccard (4 dp) — the value the oracle
    reproduces bit-for-bit.
    """
    from .sampling import hash_bucket

    docs = _spread(documents).withColumn(
        "is_new", hash_bucket(F.col("doc_id").cast("string")) < new_pct
    )
    sh = docs.select(
        "doc_id",
        "is_new",
        F.explode(F.array_distinct(shingles("text", shingle_n))).alias("sh"),
    )
    # per-doc distinct shingle count as a narrow map (r16, same move as
    # _shared_shingle_pairs): no second explode + doc_id aggregation —
    # ``sizes`` is only inner-joined from pair rows, and a doc with no
    # shingles cannot appear in any pair, so the extra n_sh=0 rows are
    # unreachable.
    sizes = docs.select(
        "doc_id",
        F.size(F.array_distinct(shingles("text", shingle_n))).cast("long").alias("n_sh"),
    )
    lists = (
        sh.groupBy("sh")
        .agg(F.collect_list(F.struct("doc_id", "is_new")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(
            F.array_sort(
                F.transform(F.filter(F.col("ds"), lambda d: d.is_new), lambda d: d.doc_id)
            ).alias("news"),
            F.array_sort(
                F.transform(F.filter(F.col("ds"), lambda d: ~d.is_new), lambda d: d.doc_id)
            ).alias("olds"),
        )
        .filter((F.size("news") >= 1) & (F.size("olds") >= 1))
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("news"),
            lambda n: F.transform(
                F.col("olds"), lambda o: F.struct(n.alias("new_id"), o.alias("old_id"))
            ),
        )
    )
    pairs = (
        lists.select(F.explode(pairs_arr).alias("p"))
        .select("p.new_id", "p.old_id")
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    ja = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("new_id"), F.col("n_sh").alias("n_a")),
            "new_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("old_id"), F.col("n_sh").alias("n_b")),
            "old_id",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    # Best match + match count in ONE hash aggregation (r16): the
    # sort-window form paid an exchange + per-partition sort and two
    # window passes; ``min_by`` over the (-jaccard, old_id) key is the
    # same (jaccard DESC, old_id ASC) total order (jaccard ≥
    # min_jaccard > 0, so negation is sign-safe; (new_id, old_id) is
    # unique, so the key has no ties) and hash-aggregates with
    # map-side partial combine.
    best = (
        ja.groupBy("new_id")
        .agg(
            F.count(F.lit(1)).alias("n_corpus_matches"),
            F.min_by(
                F.struct("old_id", "jaccard"),
                F.struct((-F.col("jaccard")).alias("nj"), F.col("old_id").alias("o")),
            ).alias("_b"),
        )
        .select(
            "new_id",
            "n_corpus_matches",
            F.col("_b.old_id").alias("old_id"),
            F.col("_b.jaccard").alias("jaccard"),
        )
    )
    # subquery-alias join (the one self-join formulation that survives
    # Spark 4's attribute rewrite on expression-heavy lineages — see
    # similarity._cell_self_join)
    return (
        docs.filter("is_new").select("doc_id").alias("nd")
        .join(best.alias("bt"), F.col("nd.doc_id") == F.col("bt.new_id"), "left")
        .select(
            F.col("nd.doc_id").alias("doc_id"),
            F.when(F.col("bt.old_id").isNotNull(), "dup").otherwise("unique").alias("verdict"),
            F.coalesce(F.col("bt.n_corpus_matches"), F.lit(0)).cast("long").alias("n_corpus_matches"),
            F.coalesce(F.col("bt.old_id"), F.lit(-1)).cast("long").alias("best_match_id"),
            F.coalesce(F.col("bt.jaccard"), F.lit(0.0)).alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )
