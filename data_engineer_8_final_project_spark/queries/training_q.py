"""Training-data pipeline queries: splits, packing, PII, LM scoring,
dup clustering, streaming dedup.

The corpus-plumbing layer above the text/dedup operators: everything a
pre-training data pipeline runs between "raw documents" and "training
shards". All deterministic (hash-keyed or order-keyed, no RNG) so each
carries a value-exact DuckDB oracle — including the iterative
connected-components clustering, replayed in SQL with a recursive CTE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..operators import clusters, dedup, sampling, text
from ..registry import register
from ..streaming import events as ev
from ..stage import replay, stage_frame

_DUCK_TOKENS = "string_split(trim(text), ' ')"


@register(
    "hash_split_assignments",
    oracle="""
    -- Deterministic train/val/test split: bucket = md5(doc_id) mod 100
    -- (15 hex chars → BIGINT, the repo's portable-hash idiom), fixed
    -- 80/10/10 percentile cut. Leakage-safe: a document's split is a
    -- pure function of its id.
    WITH b AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id
    """,
    survey_ref="extended: deterministic hash split (train/val/test)",
)
def q_hash_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return sampling.hash_split(t["documents"]).orderBy("doc_id")


@register(
    "sequence_packing",
    oracle="""
    -- Concat-and-chunk packing manifest: documents concatenated in
    -- doc_id order, token stream chunked into 2048-token windows.
    WITH tc AS (
      SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_tokens,
             -- CAST: DuckDB windowed SUM(BIGINT) yields HUGEINT, which
             -- pandas would surface as float64 and break the hash
             COALESCE(CAST(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS st
      FROM tc
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(st / 2048.0) AS BIGINT) AS pack_id,
           CAST(st % 2048 AS BIGINT) AS pack_offset
    FROM s
    ORDER BY doc_id
    """,
    survey_ref="extended: sequence packing manifest (context-window chunking)",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return sampling.pack_sequences(t["documents"], context_tokens=2048).orderBy("doc_id")


#: Deterministic PII augmentation: the fixture corpus is synthetic and
#: PII-free, so docs with doc_id % 7 == 0 get a derived address+phone
#: appended (expressible identically in both engines) — the scrub then
#: has real matches to find.
#: (only the cast spelling differs: Spark wants STRING, DuckDB VARCHAR)
_AUG_TMPL = (
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || CAST(doc_id AS {str_t})"
    " || '@example.com or +555 123-4567' ELSE text END"
)
_AUG_SPARK = _AUG_TMPL.format(str_t="STRING")
_AUG_DUCK = _AUG_TMPL.format(str_t="VARCHAR")


@register(
    "pii_scrub_stats",
    oracle=f"""
    -- Email+phone scrub audit over the augmented corpus: match counts
    -- (phones counted after the email pass, mirroring scrub order) and
    -- the md5 of the scrubbed text. Patterns are an RE2-safe subset so
    -- the same strings run in Spark and DuckDB; DuckDB needs the 'g'
    -- flag to match Spark's replace-all default.
    WITH aug AS (
      SELECT doc_id, {_AUG_DUCK} AS text FROM documents
    ),
    scrubbed AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS BIGINT) AS n_emails,
             regexp_replace(text, '{text.PII_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM aug
    )
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{text.PII_PHONE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(t1, '{text.PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_fp
    FROM scrubbed
    ORDER BY doc_id
    """,
    survey_ref="extended: PII scrubbing (email/phone mask + audit counts)",
)
def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    aug = t["documents"].select("doc_id", F.expr(_AUG_SPARK).alias("text"))
    n_email, n_phone = text.pii_counts("text")
    return aug.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.md5(text.pii_scrub("text")).alias("scrubbed_fp"),
    ).orderBy("doc_id")


@register(
    "doc_unigram_logprob",
    oracle=f"""
    -- Mean unigram −ln p(token) per document: the model-free
    -- perplexity proxy used for corpus quality filtering.
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
    tot AS (SELECT COUNT(*) AS total FROM tok)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-ln(f.tf / (SELECT total FROM tot))), 4) AS avg_neg_logprob
    FROM tok t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    survey_ref="extended: unigram log-prob quality scoring (perplexity proxy)",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return text.unigram_logprob_scores(t["documents"]).orderBy("doc_id")


def _dup_clusters_cte(min_jaccard: float) -> str:
    """The shared WITH RECURSIVE prefix ending in a ``cc(doc_id,
    cluster_id)`` CTE — min-label connected components over the
    jaccard near-dup edges via transitive closure (small closed-form
    equivalent of the engine's iterative propagation; both converge to
    the same unique fixpoint). Composed by the cluster-assignment and
    representative-selection oracles."""
    _DUCK_SHINGLES = (
        "list_transform(range(1, greatest(len(t)-2, 0)+1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
    )
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS sh FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (
      SELECT sh.doc_id, sh.sh FROM sh
      JOIN (SELECT sh AS s2, COUNT(*) AS df FROM sh GROUP BY sh) d
        ON sh.sh = d.s2 AND d.df <= 100
    ),
    jp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      JOIN sizes na ON jp.doc_a = na.doc_id
      JOIN sizes nb ON jp.doc_b = nb.doc_id
      WHERE shared / (na.n_sh + nb.n_sh - shared) >= {min_jaccard}
      UNION ALL
      SELECT doc_b, doc_a FROM jp
      JOIN sizes na ON jp.doc_a = na.doc_id
      JOIN sizes nb ON jp.doc_b = nb.doc_id
      WHERE shared / (na.n_sh + nb.n_sh - shared) >= {min_jaccard}
    ),
    reach AS (
      SELECT doc_id AS doc, doc_id AS label FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
    ),
    cc AS (
      SELECT doc AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
      FROM reach GROUP BY doc
    )"""


def _dup_clusters_oracle(min_jaccard: float) -> str:
    """Cluster assignment: the shared components CTE, selected."""
    return (
        _dup_clusters_cte(min_jaccard)
        + """
    SELECT doc_id, cluster_id FROM cc ORDER BY doc_id
    """
    )


@register(
    "dup_clusters",
    oracle=_dup_clusters_oracle(min_jaccard=0.5),
    survey_ref="extended: near-dup cluster assignment (iterative connected components)",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → components: label every document with its near-dup
    cluster's min doc_id (singletons label themselves). The engine runs
    iterative min-label propagation (operators/clusters.py); the oracle
    replays the unique fixpoint with a recursive CTE."""
    t = catalog.tables(spark, sf_dir)
    edges = dedup.jaccard_candidate_pairs(
        t["documents"], shingle_n=3, min_shared=2, max_df=100
    ).filter(F.col("jaccard") >= 0.5)
    verts = t["documents"].select("doc_id")
    return clusters.connected_components(verts, edges).orderBy("doc_id")


@register(
    "dup_clusters_twostar",
    oracle=_dup_clusters_oracle(min_jaccard=0.5),
    survey_ref="extended: connected components, large-star/small-star variant",
)
def q_dup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as dup_clusters (identical oracle — the fixpoint
    is unique), computed with the large-star/small-star iteration:
    rounds bounded ~log n even for chain-shaped components where
    min-label propagation needs rounds = diameter. The pytest chain
    gate (test_extended_ops) proves the bound on a path graph deeper
    than min-label's iteration cap."""
    t = catalog.tables(spark, sf_dir)
    edges = dedup.jaccard_candidate_pairs(
        t["documents"], shingle_n=3, min_shared=2, max_df=100
    ).filter(F.col("jaccard") >= 0.5)
    verts = t["documents"].select("doc_id")
    return clusters.connected_components_twostar(verts, edges).orderBy("doc_id")


@register(
    "dup_cluster_representatives",
    oracle=_dup_clusters_cte(min_jaccard=0.5)
    + f""",
    q AS (
      SELECT doc_id, len(list_distinct({_DUCK_TOKENS})) AS nd FROM documents
    ),
    rep AS (
      SELECT cluster_id, doc_id AS rep_doc FROM (
        SELECT cc.cluster_id, cc.doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY cc.cluster_id
                 ORDER BY q.nd DESC, cc.doc_id ASC) AS rn
        FROM cc JOIN q USING (doc_id)) t
      WHERE rn = 1
    )
    SELECT cc.doc_id, cc.cluster_id,
           CAST(cc.doc_id = rep.rep_doc AS INT) AS is_representative
    FROM cc JOIN rep USING (cluster_id)
    ORDER BY doc_id
    """,
    survey_ref="extended: canonical-document selection per near-dup cluster",
)
def q_dup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step a training pipeline runs AFTER clustering: per cluster,
    keep ONE canonical document — the highest-quality member (most
    distinct tokens; tie → lowest doc_id) — and mark the rest as drops.
    Emits a per-document verdict (doc_id, cluster_id,
    is_representative) usable directly as a dedup gate.

    Scale shape: the representative is a per-cluster ``max_by`` over a
    unique (quality, -doc_id) key — map-side partial aggregation, so a
    pathological giant cluster cannot widen the shuffle — then one
    equi-join back on cluster_id (AQE skew-split applies). No window
    over cluster_id: a rank window would funnel an all-dup corpus
    through one task.
    """
    t = catalog.tables(spark, sf_dir)
    edges = dedup.jaccard_candidate_pairs(
        t["documents"], shingle_n=3, min_shared=2, max_df=100
    ).filter(F.col("jaccard") >= 0.5)
    verts = t["documents"].select("doc_id")
    cc = clusters.connected_components(verts, edges)
    qual = text.quality_metrics(t["documents"]).select(
        "doc_id", F.col("n_distinct_tokens").alias("nd")
    )
    rep = (
        cc.join(qual, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.expr("max_by(doc_id, struct(nd, -doc_id))").alias("rep_doc")
        )
    )
    return (
        cc.join(rep, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("rep_doc")).cast("int").alias("is_representative"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_stream",
    oracle="""
    -- Streaming exact dedup drained over the replay == batch DISTINCT
    -- on the content hash (only the fp column is emitted, so the
    -- result is independent of which arrival survived per key).
    SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp
    """,
    survey_ref="§2.9 T1-T3 + extended dedup: streaming dropDuplicates over the replay",
)
def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a stream: the documents fixture re-chunked into 4
    files and replayed one per micro-batch through dropDuplicates on
    the content hash — state is one 32-byte key per distinct document
    (the streaming twin of dedup_exact). Bounded replay → no watermark
    needed; an unbounded feed would add dropDuplicatesWithinWatermark.
    """
    from ..schemas import FIXTURE_SCHEMAS

    t = catalog.tables(spark, sf_dir)
    part = F.pmod(F.hash("doc_id"), F.lit(4))
    chunked, _ = replay(
        spark,
        "docs_stream",
        os.path.join(sf_dir, "documents.parquet"),
        (),
        lambda: ([t["documents"].filter(part == i) for i in range(4)], None),
    )
    doc_stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked)
    )
    deduped = doc_stream.select(text.fingerprint("text").alias("fp")).dropDuplicates(["fp"])
    return ev.run_available_now(deduped, "append").orderBy("fp")


@register(
    "dedup_stream_watermarked",
    oracle="""
    -- dropDuplicatesWithinWatermark over the duplicate-delivery replay
    -- (streaming/events.py:_stage_wmdedup_replay), audited per event
    -- hour. The replay plants, with integer epoch-us cuts over
    -- span = hi - lo and watermark delay = span//4:
    --   * copies of [lo+3s/8, mid) shifted +s/16 arriving in batch 2
    --     -> SUPPRESSED (on-time dup, key state live)
    --   * copies of [lo+2s/8, lo+3s/8) at original ts in batch 3
    --     -> SUPPRESSED (late dup, key state live)
    --   * copies of the first eighth shifted +7s/8 in batch 4
    --     -> RE-EMITTED (state aged out: the bounded-state trade-off)
    -- So emitted = originals + aged-out replays; arrived = originals +
    -- all three planted sets at their replayed timestamps.
    WITH b AS (SELECT ts, epoch_us(ts) AS us FROM events),
    bd AS (SELECT MIN(us) AS lo, MAX(us) - MIN(us) AS s FROM b),
    arrived AS (
      SELECT ts FROM b
      UNION ALL
      SELECT make_timestamp(us + s//16) FROM b, bd
       WHERE us >= lo + 3*s//8 AND us < lo + s//2
      UNION ALL
      SELECT ts FROM b, bd
       WHERE us >= lo + 2*s//8 AND us < lo + 3*s//8
      UNION ALL
      SELECT make_timestamp(us + 7*s//8) FROM b, bd WHERE us < lo + s//8
    ),
    emitted AS (
      SELECT ts FROM b
      UNION ALL
      SELECT make_timestamp(us + 7*s//8) FROM b, bd WHERE us < lo + s//8
    ),
    a AS (SELECT date_trunc('hour', ts) AS window_start,
                 CAST(COUNT(*) AS BIGINT) AS n_arrived
          FROM arrived GROUP BY 1),
    e AS (SELECT date_trunc('hour', ts) AS window_start,
                 CAST(COUNT(*) AS BIGINT) AS n_emitted
          FROM emitted GROUP BY 1)
    SELECT a.window_start, a.n_arrived,
           CAST(COALESCE(e.n_emitted, 0) AS BIGINT) AS n_emitted,
           CAST(a.n_arrived - COALESCE(e.n_emitted, 0) AS BIGINT) AS n_suppressed
    FROM a LEFT JOIN e USING (window_start)
    ORDER BY window_start
    """,
    survey_ref="§2.9 T3 extended: bounded-state streaming dedup (dropDuplicatesWithinWatermark)",
)
def q_dedup_stream_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production (unbounded-feed) variant of ``dedup_stream``:
    state is bounded by the watermark horizon instead of growing with
    the corpus, at the cost of re-emitting duplicates redelivered after
    their state aged out. The oracle hash-pins both sides of that
    trade-off: every within-horizon duplicate suppressed, every
    aged-out replay re-emitted (see streaming/events.py for the probed
    operator semantics the replay is built on)."""
    return ev.dedup_stream_watermarked(spark, sf_dir)


@register(
    "doc_repetition_scores",
    oracle=f"""
    -- Gopher-style repetition gate over bigrams (the corpus is a
    -- newline-free word stream, so the line metrics reduce to n-gram
    -- forms). Unrounded fractions feed the keep gate in BOTH engines;
    -- int/int division is IEEE-exact so the booleans agree bitwise.
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
    ),
    pg AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 4) AS top_bigram_frac,
           ROUND((SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE), 4) AS dup_bigram_frac,
           (MAX(c) / CAST(SUM(c) AS DOUBLE) <= 0.18
            AND (SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE) <= 0.6) AS keep
    FROM pg GROUP BY doc_id ORDER BY doc_id
    """,
    survey_ref="extended: Gopher-style repetition quality gate",
)
def q_doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return text.repetition_scores(t["documents"]).orderBy("doc_id")


@register(
    "stratified_sample",
    oracle="""
    -- Deterministic stratified cap-sample: every lang capped at ~200
    -- docs via a per-stratum basis-point rate over the stable md5
    -- bucket. Membership is a pure function of (doc_id, lang counts).
    WITH b AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 10000 AS bucket
      FROM documents
    ),
    r AS (
      SELECT lang,
             LEAST(10000, CAST(FLOOR(10000 * 200 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)) AS rate_bp
      FROM documents GROUP BY lang
    )
    SELECT b.doc_id, b.lang AS stratum, b.bucket, r.rate_bp
    FROM b JOIN r ON b.lang = r.lang
    WHERE b.bucket < r.rate_bp
    ORDER BY b.doc_id
    """,
    survey_ref="extended: stratified cap-sampling (corpus rebalancing)",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return sampling.stratified_cap_sample(t["documents"], cap=200).orderBy("doc_id")


@register(
    "training_manifest",
    oracle="""
    -- Capstone: gates -> exact dedup -> split -> per-split packing in
    -- one statement. The oracle states packing as one global window
    -- per split; the engine computes the same sum as a two-level
    -- bucketed prefix sum (identical output for any bucket size).
    WITH base AS (
      SELECT doc_id, text,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(string_split(trim(text), ' '))-1, 0)+1),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1])) AS g
      FROM documents
    ),
    pg AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    rep AS (
      SELECT doc_id FROM pg GROUP BY doc_id
      HAVING MAX(c) / CAST(SUM(c) AS DOUBLE) <= 0.18
         AND (SUM(c) - COUNT(*)) / CAST(SUM(c) AS DOUBLE) <= 0.6
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    surv AS (
      SELECT b.doc_id, b.n_tokens,
             CAST(concat('0x', substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket
      FROM base b
      JOIN canon c ON b.doc_id = c.doc_id
      JOIN rep r ON b.doc_id = r.doc_id
      WHERE b.n_tokens BETWEEN 10 AND 5000
    ),
    s AS (
      SELECT doc_id, n_tokens,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM surv
    ),
    p AS (
      SELECT doc_id, n_tokens, split,
             COALESCE(CAST(SUM(n_tokens) OVER (
               PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS st
      FROM s
    )
    SELECT doc_id, split, n_tokens,
           CAST(FLOOR(st / 2048.0) AS BIGINT) AS pack_id,
           CAST(st % 2048 AS BIGINT) AS pack_offset
    FROM p ORDER BY doc_id
    """,
    survey_ref="extended capstone: full corpus->training-shards manifest",
)
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-plan training-data pipeline: length gate + Gopher repetition
    gate + exact dedup (canonical min doc_id per content hash) + hash
    split + per-split sequence packing. Every stage shuffles on doc_id
    or a 32-byte content hash — the text column never shuffles — and
    the packing running sum is the two-level prefix sum
    (sampling.running_token_start): local windows per (split, bucket)
    plus broadcast bucket offsets, so the ~80% train split packs across
    many tasks instead of one (the round-2 scale flaw, fixed; output is
    provably identical, so the oracle is unchanged)."""
    t = catalog.tables(spark, sf_dir)
    docs = t["documents"]
    base = docs.select("doc_id", text.token_count("text").alias("n_tokens"))
    rep = text.repetition_scores(docs).filter("keep").select("doc_id")
    canon = (
        docs.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = (
        base.filter(F.col("n_tokens").between(10, 5000))
        .join(canon, "doc_id", "semi")
        .join(rep, "doc_id", "semi")
    )
    # r16: split is a pure function of doc_id — take it as a column
    # expression instead of re-scanning documents through hash_split
    # and joining it back on doc_id (one exchange + join gone).
    packed = sampling.running_token_start(
        surv.withColumn("split", sampling.split_expr("doc_id")), part_cols=("split",)
    )
    st = F.col("_pack_start")
    return packed.select(
        "doc_id",
        "split",
        "n_tokens",
        (st / 2048).cast("long").alias("pack_id"),
        (st % 2048).alias("pack_offset"),
    ).orderBy("doc_id")


@register(
    "per_source_cap",
    oracle="""
    -- Per-source document cap: at most 10 docs per source, picked by
    -- stable md5 order (id tiebreak) — the per-domain cap a web corpus
    -- applies so no site dominates the mix. The oracle states it as
    -- one window per source; the engine computes the identical result
    -- as a two-phase rank (per-input-partition cap, then survivor
    -- rank) so a hot key never sorts in a single task.
    WITH h AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               AS pick_hash
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY pick_hash, doc_id) AS BIGINT) AS pick_rank
      FROM h
    )
    SELECT doc_id, source, pick_rank FROM r
    WHERE pick_rank <= 10
    ORDER BY doc_id
    """,
    survey_ref="extended: per-domain cap (skew-proof two-phase top-k per key)",
)
def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return sampling.per_key_cap(t["documents"], key_col="source", cap=10).orderBy(
        "doc_id"
    )


@register(
    "temperature_mixture_sample",
    oracle="""
    -- sqrt-temperature corpus mixing: source weight = sqrt(n_s/N)
    -- quantized to integer basis points BEFORE normalization (integer
    -- sum is exact — a float normalizer would round differently per
    -- engine), per-source rate = wt_bp * target / (sum_wt * n_s),
    -- membership = stable md5 bucket under the rate.
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n,
             CAST(FLOOR(10000 * SQRT(n / CAST(SUM(n) OVER () AS DOUBLE))) AS BIGINT) AS wt_bp
      FROM c
    ),
    r AS (
      SELECT source, wt_bp,
             LEAST(10000, CAST(FLOOR(
               10000.0 * wt_bp * 250 / (CAST(SUM(wt_bp) OVER () AS BIGINT) * n)
             ) AS BIGINT)) AS rate_bp
      FROM w
    )
    SELECT d.doc_id, d.source AS stratum,
           CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 10000 AS bucket,
           r.wt_bp, r.rate_bp
    FROM documents d JOIN r ON d.source = r.source
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 10000 < r.rate_bp
    ORDER BY d.doc_id
    """,
    survey_ref="extended: temperature-weighted source mixing (deterministic)",
)
def q_temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return sampling.temperature_mixture_sample(
        t["documents"], stratum_col="source", target=250
    ).orderBy("doc_id")


@register(
    "training_shuffle_order",
    oracle="""
    -- Deterministic global training order: md5-keyed permutation of the
    -- corpus with a dense 1..N position. The oracle states one global
    -- window; the engine computes the identical order as a range-
    -- partitioned rank + prefix-summed offsets (distributed_row_number)
    -- so no single task ever sorts the whole corpus.
    SELECT doc_id,
           md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(row_number() OVER (
             ORDER BY md5('shuffle:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS shuffle_pos
    FROM documents
    ORDER BY doc_id
    """,
    survey_ref="extended: deterministic global shuffle order (distributed rank)",
)
def q_training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    keyed = t["documents"].select(
        "doc_id",
        F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    return sampling.distributed_row_number(
        keyed, ("shuffle_key", "doc_id"), rank_col="shuffle_pos"
    ).orderBy("doc_id")


@register(
    "curriculum_order",
    # Registered r14 (r15 window head candidate — no driver row yet;
    # verified strict-hash MATCH vs this oracle at sf0.01 and sf0.001
    # in the r14 session). The oracle states the two global windows;
    # the engine computes both ranks distributed (range-partitioned
    # local row_number + prefix-summed offsets) so no task ever sorts
    # the corpus — same equivalence contract as training_shuffle_order.
    oracle="""
    -- Curriculum training order: easy -> hard by difficulty decile
    -- (token count, doc_id-tiebroken), md5-shuffled WITHIN each decile
    -- so the model sees a random order inside a difficulty band.
    -- Decile from the difficulty rank by integer floor-division
    -- (deterministic for any N, no percentile interpolation).
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
             md5('curriculum:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY n_tokens, doc_id) AS dr,
             (SELECT COUNT(*) FROM documents) AS n
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST((dr - 1) * 10 // n + 1 AS BIGINT) AS decile,
           CAST(row_number() OVER (
             ORDER BY (dr - 1) * 10 // n, k, doc_id
           ) AS BIGINT) AS curriculum_pos
    FROM r ORDER BY doc_id
    """,
    survey_ref="extended: curriculum training order (difficulty deciles, in-band shuffle)",
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difficulty-curriculum ordering: documents ranked easy→hard by
    token count, cut into 10 fixed-width deciles by integer arithmetic
    on the distributed rank (never ntile's single-task global window),
    md5-shuffled within each decile — the curriculum counterpart of
    training_shuffle_order's uniform permutation. Both global ranks run
    through distributed_row_number, so the plan scales with partitions,
    not one sort task; the corpus count joins in as a broadcast scalar.
    """
    from ..operators.text import token_count

    t = catalog.tables(spark, sf_dir)
    # r16: stage both rank inputs. Unstaged, the first rank pass re-ran
    # the tokenize scan three times (range-boundary sampling + the
    # local-rank and offset-join reads), and the second rank pass
    # re-ran the ENTIRE first rank pipeline three times more.
    toks = (
        t["documents"]
        .select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            F.md5(
                F.concat(F.lit("curriculum:"), F.col("doc_id").cast("string"))
            ).alias("k"),
        )
        .transform(stage_frame)
    )
    ranked = sampling.distributed_row_number(toks, ("n_tokens", "doc_id"), rank_col="dr")
    n = t["documents"].agg(F.count(F.lit(1)).alias("n"))
    with_decile = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", F.expr("CAST((dr - 1) * 10 DIV n + 1 AS BIGINT)"))
        .transform(stage_frame)
    )
    return (
        sampling.distributed_row_number(
            with_decile, ("decile", "k", "doc_id"), rank_col="curriculum_pos"
        )
        .select("doc_id", "n_tokens", "decile", "curriculum_pos")
        .orderBy("doc_id")
    )


@register(
    "dup_span_stats",
    oracle="""
    -- Span-level dedup measurement: an 8-token span is duplicated if
    -- its exact text occurs more than once in the corpus; per document
    -- report span count, duplicated-span count, duplicated fraction.
    -- DuckDB range(a, b) is end-exclusive and list_slice bounds are
    -- inclusive: i in [1, len-7], slice i..i+7 = 8 tokens.
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
    ),
    base AS (
      SELECT doc_id, CAST(GREATEST(len(t) - 7, 0) AS BIGINT) AS n_spans FROM toks
    ),
    spans AS (
      SELECT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS span
      FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ),
    c AS (SELECT span, COUNT(*) AS n FROM spans GROUP BY span),
    dup AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
      FROM spans JOIN c USING (span) WHERE c.n > 1 GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_spans,
           COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(d.n_dup_spans, 0) / CAST(GREATEST(b.n_spans, 1) AS DOUBLE)
             AS dup_span_frac
    FROM base b LEFT JOIN dup d USING (doc_id)
    ORDER BY b.doc_id
    """,
    survey_ref="extended: span-level dedup stats (duplicated n-gram fraction)",
)
def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return text.dup_span_stats(t["documents"], n=8).orderBy("doc_id")


@register(
    "importance_weights",
    oracle=f"""
    -- DSIR-style importance weights (Xie et al. 2302.03169): mean
    -- per-token log-likelihood ratio of hashed unigram features,
    -- target = English slice vs the raw corpus, add-1 smoothing over
    -- 64 md5 buckets (the repo's portable-hash idiom). Positive =>
    -- more target-like than the corpus average.
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS tgt,
             CAST(concat('0x', substr(md5(u.tok), 1, 15)) AS BIGINT) % 64 AS bucket
      FROM (SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS tok FROM documents) u
    ),
    raw AS (SELECT bucket, COUNT(*) AS n FROM tok GROUP BY bucket),
    tgtc AS (SELECT bucket, COUNT(*) AS n FROM tok WHERE tgt GROUP BY bucket),
    tot AS (SELECT (SELECT COUNT(*) FROM tok) AS traw,
                   (SELECT COUNT(*) FROM tok WHERE tgt) AS ttgt),
    lr AS (
      SELECT r.bucket,
             ln((COALESCE(tc.n, 0) + 1) / ((SELECT ttgt FROM tot) + 64.0))
           - ln((r.n + 1) / ((SELECT traw FROM tot) + 64.0)) AS lr
      FROM raw r LEFT JOIN tgtc tc USING (bucket)
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           -- + 0.0 canonicalizes IEEE -0.0 (matches the Spark side)
           ROUND(AVG(l.lr), 4) + 0.0 AS importance,
           ROUND(AVG(l.lr), 4) + 0.0 > 0 AS is_target_like
    FROM tok t JOIN lr l USING (bucket)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    survey_ref="extended: DSIR hashed-unigram importance weights (data selection)",
)
def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling scores for quality-targeted data selection
    (operators/sampling.importance_weights): two bounded 64-bucket
    feature models + one literal-lookup scoring pass, zero joins."""
    t = catalog.tables(spark, sf_dir)
    return sampling.importance_weights(
        t["documents"], is_target=F.col("lang") == "en", n_buckets=64
    ).orderBy("doc_id")


@register(
    "bigram_logprob",
    oracle=f"""
    -- Add-1 bigram LM scoring: P(cur|prev) = (bc+1)/(pc+|V|), per-doc
    -- mean of -ln P — the next quality-proxy tier above the unigram
    -- scorer (catches scrambled word ORDER that unigram stats cannot).
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS prev,
             unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS cur
      FROM toks WHERE len(t) >= 2
    ),
    v AS (
      SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS nv
      FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
    ),
    bgf AS (SELECT prev, cur, COUNT(*) AS bc FROM bg GROUP BY 1, 2),
    pf AS (SELECT prev, COUNT(*) AS pc FROM bg GROUP BY 1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((f.bc + 1) / (p.pc + (SELECT nv FROM v)))), 4)
             AS avg_neg_logprob
    FROM bg b JOIN bgf f ON b.prev = f.prev AND b.cur = f.cur
    JOIN pf p ON b.prev = p.prev
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    survey_ref="extended: add-1 bigram LM scoring (word-order quality proxy)",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.tables(spark, sf_dir)
    return text.bigram_logprob_scores(t["documents"]).orderBy("doc_id")


@register(
    "weighted_sample_topk",
    oracle="""
    -- Efraimidis-Spirakis weighted sampling WITHOUT replacement:
    -- key_i = u_i^(1/w_i) with u_i uniform — the k largest keys are an
    -- exact weighted sample. Deterministic twin: u comes from the md5
    -- portable-hash idiom (60-bit int -> (0,1]), compared in the
    -- monotone-equivalent ln(u)/w form; ties cannot occur (60-bit
    -- keys) and the ordering survives engine ulp differences because
    -- adjacent key gaps are ~2^-10 scale, not ulp scale.
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) + 1) / 1152921504606846976.0)
             / n_chars AS k
      FROM documents
    )
    SELECT doc_id, weight, ROUND(k, 6) AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id ASC
    LIMIT 20
    """,
    survey_ref="extended: weighted sampling w/o replacement (Efraimidis-Spirakis)",
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling without replacement (Efraimidis &
    Spirakis 2006): per-row key u^(1/w), global top-k — the one-pass,
    shuffle-free-until-TakeOrdered algorithm for 'sample k documents
    proportional to length/quality' that a mixture builder needs when
    rate-based sampling (temperature_mixture_sample) can't pin an
    exact k. u is the md5-derived uniform (pure function of doc_id →
    replayable anywhere); comparing ln(u)/w keeps the same order with
    better float behavior than the tiny u^(1/w) powers."""
    t = catalog.tables(spark, sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(1152921504606846976.0)
    k = F.log(u) / F.col("n_chars")
    return (
        t["documents"]
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            k.alias("k"),
        )
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "weight", F.round("k", 6).alias("sample_key"))
    )


@register(
    "weighted_sample_per_source",
    oracle="""
    -- Grouped Efraimidis-Spirakis: an exact 5-document weighted sample
    -- PER SOURCE (same md5-uniform ln(u)/w keys as the global variant,
    -- ranked within source) — the stratified form a mixture builder
    -- uses to fill per-source quotas proportional to document weight.
    WITH keyed AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
             ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) + 1) / 1152921504606846976.0)
             / n_chars AS k
      FROM documents
    )
    SELECT source, doc_id, weight, ROUND(k, 6) AS sample_key FROM (
      SELECT source, doc_id, weight, k,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id ASC)
               AS rn
      FROM keyed) t
    WHERE rn <= 5
    ORDER BY source, sample_key DESC, doc_id
    """,
    survey_ref="extended: grouped weighted sampling w/o replacement (per-source quotas)",
)
def q_weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling without replacement: the same
    Efraimidis-Spirakis keys as weighted_sample_topk, ranked inside
    each source — ONE source-keyed window whose rank<=k predicate
    Catalyst pushes map-side (InferWindowGroupLimit, the same
    skew-safe two-phase top-k proven for per_source_cap)."""
    t = catalog.tables(spark, sf_dir)
    from pyspark.sql import Window

    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(1152921504606846976.0)
    w = Window.partitionBy("source").orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        t["documents"]
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            (F.log(u) / F.col("n_chars")).alias("k"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "weight", F.round("k", 6).alias("sample_key"))
        .orderBy("source", F.desc("sample_key"), "doc_id")
    )


@register(
    "hard_negative_mining",
    oracle="""
    -- Contrastive hard negatives: each vector's most-similar
    -- CELL-LOCAL neighbor with a DIFFERENT label (the "looks alike,
    -- isn't" pair a contrastive objective wants). Same seeded-medoid
    -- assignment + within-cell pairs as the knn-graph oracle, with
    -- the label inequality replacing src<>dst (one label per vector,
    -- so it subsumes it); rank on the ROUNDED cosine keeps boundaries
    -- bit-replayable. (src, neg_rank) is unique -> tiebreak-complete.
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    cents AS (SELECT vec_id AS cell, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
    asg AS (
      SELECT vec_id, v, label, cell FROM (
        SELECT e.vec_id, e.v, e.label, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -2*list_dot_product(e.v, c.cv)
                          + list_dot_product(c.cv, c.cv) ASC, c.cell ASC) AS rn
        FROM emb e CROSS JOIN cents c) t
      WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS src, a.label AS src_label,
             b.vec_id AS dst, b.label AS dst_label,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.label <> b.label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
      FROM pairs
    )
    SELECT src, src_label, CAST(rnk AS BIGINT) AS neg_rank,
           dst, dst_label, cosine
    FROM ranked WHERE rnk <= 1
    ORDER BY src, neg_rank
    """,
    survey_ref="extended: contrastive hard-negative mining (cell-blocked cross-label ANN)",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 cross-label neighbor per vector
    (operators/similarity.hard_negatives): the mining pass that turns
    an embedded corpus into contrastive training pairs. Cell-blocked
    like every pair stage in the engine — n_cells is the scale knob,
    no all-pairs join exists."""
    from ..operators import similarity

    t = catalog.tables(spark, sf_dir)
    return similarity.hard_negatives(t["embeddings"], n_cells=16, k=1).orderBy(
        "src", "neg_rank"
    )


@register(
    "token_budget_pack",
    oracle="""
    -- Per-source token-budget curriculum pack: order each source's
    -- docs by type-token-ratio quality (DESC, doc_id tiebreak), keep
    -- the prefix whose running token total fits the budget (300).
    -- The ratio is ROUND(.., 4) on both sides, the running SUM is
    -- integer, and (source, ttr DESC, doc_id) is a total order ->
    -- the kept set and cum_tokens are bit-replayable.
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
             ROUND(len(list_distinct(string_split(trim(text), ' ')))
                   / len(string_split(trim(text), ' ')), 4) AS ttr
      FROM documents
    ),
    packed AS (
      SELECT *, CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY ttr DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM toks
    )
    SELECT source, doc_id, n_tokens, ttr, cum_tokens
    FROM packed WHERE cum_tokens <= 300
    ORDER BY source, cum_tokens
    """,
    survey_ref="extended: per-source token-budget pack (quality-ordered prefix under budget)",
)
def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first selection under a per-source token budget —
    the mixture-construction step that turns per-source quality scores
    into a bounded training slice. One source-keyed window (sort by
    rounded type-token-ratio DESC, doc_id ASC) carrying an integer
    running sum; the budget predicate on the running sum keeps the
    highest-quality prefix. Scale shape: the only shuffle is the
    source-keyed window — at 100 TB sources are range-partitioned and
    each partition's pack is independent."""
    t = catalog.tables(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("ttr"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = t["documents"].select(
        "source",
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        F.round(
            text.distinct_token_count("text") / text.token_count("text"), 4
        ).alias("ttr"),
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= 300)
        .select("source", "doc_id", "n_tokens", "ttr", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


@register(
    "source_overlap_matrix",
    oracle="""
    -- Cross-source contamination matrix: for each source pair (a<b),
    -- the number of DISTINCT 3-token shingles present in both — the
    -- corpus-level overlap diagnostic run before mixing sources into
    -- a training set (exact-text overlap is zero on this fixture;
    -- shingle overlap is the graded signal).
    WITH toks AS (
      SELECT source, string_split(trim(text), ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, greatest(len(t)-2, 0)+1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    survey_ref="extended: cross-source shingle-overlap matrix (contamination diagnostic)",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|shingles(a) ∩ shingles(b)| for every source pair: explode the
    3-token shingles (the same zip_with builder as the MinHash tiers),
    collapse to DISTINCT (source, shingle) FIRST (the dedup-before-join
    rule — posting lists, not raw occurrences, ride the exchange),
    then count pair hits through one shingle-keyed equi-join. Scale
    shape: the join key is the shingle (uniform md5-like spread), the
    output is |sources|² rows — tiny; no cross join of sources exists.
    At 100 TB add a max_df cap on hot shingles exactly as the LSH
    posting lists do."""
    t = catalog.tables(spark, sf_dir)
    sh = (
        t["documents"]
        .select("source", F.explode(text.shingles("text", 3)).alias("shingle"))
        .distinct()
    )
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy("source_a", "source_b")
    )


def _source_minhash_oracle(num_hashes: int = 24) -> str:
    """Replays the per-source MinHash sketch comparison value-exact:
    the same md5 shingle hash, affine permutation literals
    (dedup.minhash_coeffs), source-level DISTINCT shingle sets, and
    matching-component estimator as the doc-level native tier."""
    p = dedup.MINHASH_PRIME
    coeffs = dedup.minhash_coeffs(num_hashes)
    mins = ",\n             ".join(
        f"MIN((hv * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (
      SELECT source, {_DUCK_TOKENS} AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, greatest(len(t)-2, 0)+1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    h AS (
      SELECT source,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % {p} AS hv
      FROM sh
    ),
    sig AS (
      SELECT source,
             {mins}
      FROM h GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(({matches}) / {num_hashes}.0, 4) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    ORDER BY source_a, source_b
    """


@register(
    "source_minhash_similarity",
    oracle=_source_minhash_oracle(),
    survey_ref="extended: per-source MinHash sketch similarity (the 100 TB overlap path)",
)
def q_source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path twin of source_overlap_matrix: each source collapses
    to a k=24 MinHash signature (min over the source's DISTINCT shingle
    hashes per affine permutation — one shuffle on source), and pair
    similarity is the matching-component Jaccard estimator. At 100 TB
    the exact matrix's shingle join scans every posting; the sketch
    needs ONE pass + |sources| fixed-width rows — the estimator is the
    production screen, the exact matrix the audit. Pair generation is
    the bounded collect_list + pair-explode idiom (|sources| rows, one
    struct array — never a cartesian join)."""
    t = catalog.tables(spark, sf_dir)
    num_hashes = 24
    p = dedup.MINHASH_PRIME
    sh = (
        t["documents"]
        .select("source", F.explode(text.shingles("text", 3)).alias("shingle"))
        .distinct()
    )
    hv = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long") % p
    sig = (
        sh.select("source", hv.alias("hv"))
        .groupBy("source")
        .agg(
            *[
                F.min((F.col("hv") * F.lit(a) + F.lit(b)) % p).alias(f"m{i}")
                for i, (a, b) in enumerate(dedup.minhash_coeffs(num_hashes))
            ]
        )
    )
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    one = sig.select(F.struct(F.col("source"), sig_arr.alias("sig")).alias("s")).agg(
        F.array_sort(F.collect_list("s")).alias("ss")
    )
    pairs = one.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (a, i) -> "
                "transform(slice(ss, i + 2, size(ss)), b -> struct("
                "a.source AS source_a, b.source AS source_b, "
                "size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v))"
                " AS matches))))"
            )
        ).alias("p")
    ).select("p.*")
    return pairs.select(
        "source_a",
        "source_b",
        F.round(F.col("matches") / F.lit(float(num_hashes)), 4).alias("est_jaccard"),
    ).orderBy("source_a", "source_b")


@register(
    "near_dup_rate_by_source",
    oracle=f"""
    -- Per-source near-duplication rate: fraction of each source's
    -- docs that participate in at least one Jaccard>=0.3 near-dup
    -- pair (the corpus-health dashboard number a dedup pass reports).
    -- Same banded candidate CTEs as jaccard_near_dup.
    WITH toks AS (
      SELECT doc_id, {{T}} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({{SH}})) AS sh FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (
      SELECT sh.doc_id, sh.sh FROM sh
      JOIN (SELECT sh AS s2, COUNT(*) AS df FROM sh GROUP BY sh) d
        ON sh.sh = d.s2 AND d.df <= 100
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        JOIN sizes na ON pairs.doc_a = na.doc_id
        JOIN sizes nb ON pairs.doc_b = nb.doc_id
        WHERE ROUND(shared / (na.n_sh + nb.n_sh - shared), 4) >= 0.3
        UNION ALL
        SELECT doc_b FROM pairs
        JOIN sizes na ON pairs.doc_a = na.doc_id
        JOIN sizes nb ON pairs.doc_b = nb.doc_id
        WHERE ROUND(shared / (na.n_sh + nb.n_sh - shared), 4) >= 0.3)
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (dd.doc_id IS NOT NULL) AS BIGINT) AS n_dup_docs,
           ROUND(COUNT(*) FILTER (dd.doc_id IS NOT NULL) / COUNT(*), 4) AS dup_rate
    FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """.replace("{T}", _DUCK_TOKENS).replace(
        "{SH}",
        "list_transform(range(1, greatest(len(t)-2, 0)+1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])",
    ),
    survey_ref="extended: per-source near-dup rate (dedup health rollup)",
)
def q_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolls the Jaccard near-dup pairs up to the per-source dup rate —
    the number a curation dashboard actually shows. Reuses
    jaccard_candidate_pairs (banded, df-capped, dedup-before-verify);
    the rollup adds one distinct on dup doc ids and one doc_id-keyed
    left join, both shuffling |documents| rows at most. The ROUNDED Jaccard
    (4 decimals, the operator's output contract) gates the threshold
    on BOTH engines so the 0.3 boundary can't drift."""
    t = catalog.tables(spark, sf_dir)
    pairs = dedup.jaccard_candidate_pairs(
        t["documents"], shingle_n=3, min_shared=2, max_df=100
    )
    hits = pairs.filter(F.col("jaccard") >= 0.3)
    dup_docs = (
        hits.select(F.col("doc_a").alias("doc_id"))
        .union(hits.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return (
        t["documents"]
        .join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_d").isNotNull().cast("int")).cast("long").alias("n_dup_docs"),
        )
        .withColumn("dup_rate", F.round(F.col("n_dup_docs") / F.col("n_docs"), 4))
        .orderBy("source")
    )


@register(
    "source_shingle_kmv",
    oracle="""
    -- KMV (k-minimum-values) distinct-count sketch: per source, the
    -- estimated number of DISTINCT 3-token shingles from the 64
    -- smallest 60-bit md5 hashes; the 'ALL' row is estimated from the
    -- MERGED per-source sketches alone (sketch mergeability — the
    -- rollup never rescans the data). est = n when n < k (the sketch
    -- is the whole set), else floor((k-1) / (max_h / 2^60)).
    WITH toks AS (
      SELECT source, string_split(trim(text), ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, greatest(len(t)-2, 0)+1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    hv AS (
      SELECT DISTINCT source,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h
      FROM sh
    ),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hv) t
      WHERE rn <= 64
    ),
    merged AS (
      SELECT 'ALL' AS source, h
      FROM (SELECT DISTINCT h FROM sk ORDER BY h LIMIT 64) t
    ),
    agg AS (
      SELECT source, COUNT(h) AS sketch_n, MAX(h) AS max_h
      FROM (SELECT * FROM sk UNION ALL SELECT * FROM merged) u
      GROUP BY source
    )
    SELECT source,
           CAST(sketch_n AS BIGINT) AS sketch_n,
           CAST(CASE WHEN sketch_n < 64 THEN sketch_n
                     ELSE FLOOR(63.0 / (CAST(max_h AS DOUBLE)
                                        / 1152921504606846976.0))
                END AS BIGINT) AS est_distinct
    FROM agg ORDER BY source
    """,
    survey_ref="extended: KMV distinct-count sketch per source + merged rollup (mergeable cardinality estimation)",
)
def q_source_shingle_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-shingle cardinality WITHOUT an exact
    count-distinct (operators/sketches): hash shingles to 60 bits,
    keep each source's 64 smallest distinct hashes (WindowGroupLimit
    prunes map-side), estimate (k-1)/h_(k); the 'ALL' row merges the
    per-source sketches — |sources|*64 rows — proving the rollup
    property a 100 TB pipeline relies on (daily sketches -> monthly
    estimate with no rescan). ~1/sqrt(64) = 12% relative error by
    construction."""
    from ..operators import sketches

    t = catalog.tables(spark, sf_dir)
    sh = t["documents"].select(
        "source", F.explode(text.shingles("text", 3)).alias("shingle")
    )
    # r16: stage the sketch — it is |sources|*64 rows but BOTH the
    # per-source estimate and the merge path consume it, and unstaged
    # each re-ran the whole shingle+distinct+rank pipeline (the
    # query's dominant cost) from the corpus scan.
    sk = sketches.kmv_sketch(sh, "source", "shingle", k=64).transform(
        stage_frame
    )
    per_source = sketches.kmv_estimate(sk, "source", k=64)
    merged = sketches.kmv_estimate(
        sketches.kmv_merge(sk, k=64).withColumn("source", F.lit("ALL")),
        "source",
        k=64,
    )
    return per_source.unionByName(merged).orderBy("source")


@register(
    "incremental_ingest_dedup",
    oracle=f"""
    -- Incremental ingest screen: the "new" 20% slice (md5 split) vs
    -- the frozen corpus — only new×old pairs, never old×old. Same
    -- shingle/df-cap/jaccard pipeline as the batch tier; verdicts use
    -- sentinel -1/0.0 (not NULL) so the frame hashes portably.
    WITH toks AS (
      SELECT doc_id, {{tok}} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM toks
    ),
    flags AS (
      SELECT doc_id,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 100) < 20 AS is_new
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    dfreq AS (SELECT sh AS s2, COUNT(*) AS df FROM sh GROUP BY sh),
    jp AS (
      SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS shared
      FROM sh a
      JOIN sh b ON a.sh = b.sh
      JOIN flags fa ON fa.doc_id = a.doc_id AND fa.is_new
      JOIN flags fb ON fb.doc_id = b.doc_id AND NOT fb.is_new
      JOIN dfreq d ON d.s2 = a.sh AND d.df BETWEEN 2 AND 100
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    ja AS (
      SELECT new_id, old_id,
             ROUND(shared / (na.n_sh + nb.n_sh - shared), 4) AS jaccard
      FROM jp JOIN sizes na ON jp.new_id = na.doc_id
              JOIN sizes nb ON jp.old_id = nb.doc_id
      WHERE ROUND(shared / (na.n_sh + nb.n_sh - shared), 4) >= 0.3
    ),
    best AS (
      SELECT new_id,
             COUNT(*) OVER (PARTITION BY new_id) AS n_corpus_matches,
             old_id, jaccard,
             ROW_NUMBER() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, old_id ASC) AS rn
      FROM ja
    )
    SELECT f.doc_id,
           CASE WHEN b.old_id IS NOT NULL THEN 'dup' ELSE 'unique' END AS verdict,
           CAST(COALESCE(b.n_corpus_matches, 0) AS BIGINT) AS n_corpus_matches,
           CAST(COALESCE(b.old_id, -1) AS BIGINT) AS best_match_id,
           COALESCE(b.jaccard, 0.0) AS best_jaccard
    FROM flags f
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = f.doc_id
    WHERE f.is_new
    ORDER BY f.doc_id
    """.format(tok=_DUCK_TOKENS),
    survey_ref="extended: incremental ingest dedup (new batch vs frozen corpus, new-x-old pairs only)",
)
def q_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the incoming 20% slice against the frozen 80% corpus
    (operators/dedup.incremental_near_dups): posting lists partitioned
    into new/old ids per shingle, only the new×old cross products
    explode — the daily-ingestion shape whose pair space is
    |new|·|block|, not |corpus|². One row per new doc with its dup
    verdict, match count, and best corpus match."""
    t = catalog.tables(spark, sf_dir)
    return dedup.incremental_near_dups(
        t["documents"], new_pct=20, shingle_n=3, min_shared=2, max_df=100,
        min_jaccard=0.3,
    )


@register(
    "leakage_safe_split",
    oracle=_dup_clusters_cte(min_jaccard=0.5)
    + """
    SELECT doc_id, cluster_id,
           CASE WHEN CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM cc ORDER BY doc_id
    """,
    survey_ref="extended: leakage-safe split (near-dup clusters assigned atomically to train/val/test)",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split rule that closes the train/test leakage hole
    hash_split leaves open: keying the 80/10/10 md5 bucket on the
    near-dup CLUSTER id (connected components over jaccard >= 0.5
    edges) instead of the doc id, so near-duplicates land in the same
    split atomically — a paraphrased test doc can never leak into
    train. Composition of the proven pieces: jaccard_candidate_pairs →
    connected_components → hash_bucket(cluster_id)."""
    t = catalog.tables(spark, sf_dir)
    edges = dedup.jaccard_candidate_pairs(
        t["documents"], shingle_n=3, min_shared=2, max_df=100
    ).filter(F.col("jaccard") >= 0.5)
    cc = clusters.connected_components(t["documents"].select("doc_id"), edges)
    bucket = sampling.hash_bucket(F.col("cluster_id").cast("string"))
    return cc.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    ).orderBy("doc_id")


#: One composed DuckDB replay of the full curation pass. Every stage
#: reuses the EXACT SQL idiom of its standalone oracle (quality gate /
#: norm-fp dedup from corpus_clean_pipeline, shingle→jaccard→CC from
#: _dup_clusters_cte but over the SURVIVOR set, md5 bucket from
#: leakage_safe_split, pick_hash cap from per_source_cap, ttr-ordered
#: budget pack from token_budget_pack) so the composition is gated by
#: the same determinism rules each piece already proved.
CURATION_PIPELINE_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, source, text, string_split(trim(text), ' ') AS t FROM documents
    ),
    scored AS (
      SELECT doc_id, source, text,
             CAST(len(t) AS BIGINT) AS n_tokens,
             len(list_filter(t, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x)))
               / len(t) AS sr,
             ROUND(len(list_distinct(t)) / len(t), 4) AS ttr
      FROM toks
    ),
    gated AS (
      SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                        ' +', ' ', 'g'))) AS norm_fp
      FROM scored WHERE n_tokens >= 10 AND sr <= 0.5
    ),
    surv AS (
      SELECT doc_id, source, text, n_tokens, ttr FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_fp ORDER BY doc_id) AS rn
        FROM gated) s
      WHERE rn = 1
    ),
    stoks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM surv),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM stoks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (
      SELECT sh.doc_id, sh.sh FROM sh
      JOIN (SELECT sh AS s2, COUNT(*) AS df FROM sh GROUP BY sh) d
        ON sh.sh = d.s2 AND d.df <= 100
    ),
    jp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      JOIN sizes na ON jp.doc_a = na.doc_id
      JOIN sizes nb ON jp.doc_b = nb.doc_id
      WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5
      UNION ALL
      SELECT doc_b, doc_a FROM jp
      JOIN sizes na ON jp.doc_a = na.doc_id
      JOIN sizes nb ON jp.doc_b = nb.doc_id
      WHERE shared / (na.n_sh + nb.n_sh - shared) >= 0.5
    ),
    reach AS (
      SELECT doc_id AS doc, doc_id AS label FROM surv
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
    ),
    cc AS (
      SELECT doc AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
      FROM reach GROUP BY doc
    ),
    train AS (
      SELECT s.doc_id, s.source, s.n_tokens, s.ttr, c.cluster_id
      FROM surv s JOIN cc c ON s.doc_id = c.doc_id
      WHERE CAST(concat('0x', substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 100 < 80
    ),
    capped AS (
      SELECT doc_id, source, n_tokens, ttr, cluster_id, pick_rank FROM (
        SELECT t.*, CAST(ROW_NUMBER() OVER (
                 PARTITION BY source ORDER BY
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                 doc_id) AS BIGINT) AS pick_rank
        FROM train t) x
      WHERE pick_rank <= 10
    ),
    packed AS (
      SELECT *, CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY ttr DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM capped
    )
    SELECT doc_id, source, cluster_id, n_tokens, ttr, pick_rank, cum_tokens
    FROM packed WHERE cum_tokens <= 300
    ORDER BY doc_id
    """


@register(
    "curation_pipeline",
    oracle=CURATION_PIPELINE_ORACLE,
    survey_ref=(
        "extended capstone: end-to-end curation — clean → quality gate → "
        "exact dedup → near-dup leakage-safe split → per-source cap → "
        "token-budget pack"
    ),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consolidated training-data curation pass (VERDICT r8 item
    9): the proven pieces composed END TO END over one corpus —

    1. quality gates (token count ≥ 10, stopword ratio ≤ 0.5);
    2. exact dedup on the canonical normal form (lowest doc_id
       survives, via a norm_fp-keyed window so the survivor keeps its
       source/quality columns);
    3. near-dup connected components over jaccard ≥ 0.5 candidate
       pairs of the SURVIVORS (dedup.jaccard_candidate_pairs →
       clusters.connected_components), with the 80/10/10 md5 split
       keyed on the CLUSTER id — near-duplicates enter train/val/test
       atomically;
    4. per-source cap 10 (stable md5 pick order) on the train slice;
    5. per-source token-budget pack (ttr DESC quality prefix under a
       300-token budget).

    Output = the final train manifest, one row per selected doc.
    Scale shape: every stage is a proven-linear piece — the only
    quadratic-risk stage (candidate pairs) inherits the df-capped
    posting-list bound; the survivor frame is staged once
    (localCheckpoint locally, parquet at cluster scale) because three
    branches (pair gen, CC nodes, final join) read it.
    """
    t = catalog.tables(spark, sf_dir)
    c = F.col("text")
    n_tok = text.token_count(c)
    sr = text.stopword_count(c) / n_tok
    ttr = F.round(text.distinct_token_count(c) / n_tok, 4)
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " ")
    )
    gated = (
        t["documents"]
        .select(
            "doc_id",
            "source",
            c.alias("text"),
            n_tok.alias("n_tokens"),
            sr.alias("sr"),
            ttr.alias("ttr"),
            F.md5(norm).alias("norm_fp"),
        )
        .filter((F.col("n_tokens") >= 10) & (F.col("sr") <= 0.5))
    )
    # Exact-dedup survivor = the min-doc_id row per normal form. r16:
    # one hash aggregation (min_by — doc_id is unique, so the key is
    # tie-free) instead of the exchange + sort + row_number window;
    # partial min_by combines map-side, so the shuffle carries one
    # candidate row per (mapper, norm_fp) instead of every gated row.
    surv = (
        gated.groupBy("norm_fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "text", "n_tokens", "ttr"), "doc_id"
            ).alias("_r")
        )
        .select("_r.doc_id", "_r.source", "_r.text", "_r.n_tokens", "_r.ttr")
        .transform(stage_frame)  # three consumers; stage the gate+dedup once
    )
    edges = dedup.jaccard_candidate_pairs(
        surv.select("doc_id", "text"), shingle_n=3, min_shared=2, max_df=100
    ).filter(F.col("jaccard") >= 0.5)
    cc = clusters.connected_components(surv.select("doc_id"), edges)
    bucket = sampling.hash_bucket(F.col("cluster_id").cast("string"))
    train = surv.join(cc, "doc_id").filter(bucket < 80)
    wcap = Window.partitionBy("source").orderBy("_pick", "doc_id")
    capped = (
        train.withColumn("_pick", sampling._hash60(F.col("doc_id").cast("string")))
        .withColumn("pick_rank", F.row_number().over(wcap).cast("long"))
        .filter(F.col("pick_rank") <= 10)
    )
    wpack = (
        Window.partitionBy("source")
        .orderBy(F.desc("ttr"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        capped.withColumn("cum_tokens", F.sum("n_tokens").over(wpack).cast("long"))
        .filter(F.col("cum_tokens") <= 300)
        .select("doc_id", "source", "cluster_id", "n_tokens", "ttr", "pick_rank", "cum_tokens")
        .orderBy("doc_id")
    )
