"""Round-3 corpus-pipeline queries: decontamination, vocabulary,
TF-IDF, mixture weights.

The remaining plumbing a pre-training corpus pipeline runs that the
round-2 training layer didn't cover: train/test n-gram decontamination
(the eval-integrity gate), frequency-ranked vocabulary construction,
per-document TF-IDF salient terms, and language-mixture reweighting.
All pure built-ins over uniform keys (gram hash / token / lang), each
with a value-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..operators import sampling, text
from ..registry import register
from ..stage import stage_frame

_DUCK_TOKENS = "string_split(trim(text), ' ')"
#: 5-token shingles (the fixture docs are ~40 tokens; real
#: decontamination uses 13-grams — same plan, different n).
_DUCK_SHINGLES5 = (
    "list_transform(range(1, greatest(len(t)-4, 0)+1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])"
)
_DUCK_SPLIT = (
    "CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 100 < 80 THEN 'train' WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR))"
    ", 1, 15)) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END"
)


@register(
    "ngram_decontamination",
    oracle=f"""
    -- Train/test decontamination: a test document is contaminated when
    -- any of its 5-gram shingles also occurs in ANY train document —
    -- the standard eval-integrity gate (13-grams at production n).
    -- Grams compare by md5 so the join key is fixed-width.
    WITH toks AS (
      SELECT doc_id, {_DUCK_SPLIT} AS split, {_DUCK_TOKENS} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, split, md5(unnest(list_distinct({_DUCK_SHINGLES5}))) AS h
      FROM toks
    ),
    train_grams AS (SELECT DISTINCT h FROM grams WHERE split = 'train'),
    test_grams AS (SELECT doc_id, h FROM grams WHERE split = 'test')
    SELECT tg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
    FROM test_grams tg LEFT JOIN train_grams t ON tg.h = t.h
    GROUP BY tg.doc_id
    ORDER BY tg.doc_id
    """,
    survey_ref="extended: train/test n-gram decontamination gate",
)
def q_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: grams hash to fixed-width md5 keys before the join
    (the text never shuffles); the train side is a DISTINCT gram set —
    gram-keyed uniform shuffles throughout, and the left join marks
    hits without ever materializing pairs. At 100 TB both sides
    partition by gram hash; Zipf-hot grams are exactly what AQE skew
    handling splits."""
    t = catalog.tables(spark, sf_dir)
    # r16: split is a pure function of doc_id — column expression, not
    # a self-join of documents on doc_id (exchange + join gone).
    grams = (
        t["documents"]
        .withColumn("split", sampling.split_expr("doc_id"))
        .select(
            "doc_id",
            "split",
            F.explode(F.array_distinct(text.shingles("text", 5))).alias("g"),
        )
        .select("doc_id", "split", F.md5("g").alias("h"))
    )
    train_grams = (
        grams.filter(F.col("split") == "train").select("h").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.filter(F.col("split") == "test")
        .join(train_grams, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias("n_hits"),
            (F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)) > 0).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "vocab_build",
    oracle=f"""
    -- Frequency-ranked vocabulary: tokens with corpus count >= 5, ids
    -- assigned by (count DESC, token) — the tiebreak-complete total
    -- order every tokenizer build step needs to be reproducible.
    WITH tok AS (SELECT unnest({_DUCK_TOKENS}) AS token FROM documents),
    counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok
      GROUP BY token HAVING COUNT(*) >= 5
    )
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS vocab_id
    FROM counts
    ORDER BY vocab_id
    """,
    survey_ref="extended: frequency-ranked vocabulary construction",
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts are one uniform-key aggregation; the global rank
    uses sampling.distributed_row_number (range repartition + local
    rank + broadcast offsets) — a natural-language vocabulary is small,
    but a byte-BPE/URL/code vocabulary at 100 TB is not, and the rank
    must never serialize it through one task."""
    t = catalog.tables(spark, sf_dir)
    counts = (
        t["documents"]
        .select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .withColumn("_neg_n", -F.col("n"))
        # r16: stage the vocabulary-sized count frame once — the rank
        # pass re-ran the full tokenize+count lineage three times
        # unstaged (range-boundary sampling + the local-rank and
        # offset-join reads).
        .transform(stage_frame)
    )
    return (
        sampling.distributed_row_number(
            counts, sort_cols=("_neg_n", "token"), rank_col="vocab_id"
        )
        .select("token", "n", "vocab_id")
        .orderBy("vocab_id")
    )


@register(
    "tfidf_topk_terms",
    oracle=f"""
    -- Top-3 salient terms per document by TF-IDF (ln N/df), ranked
    -- with a tiebreak-complete (score DESC, term) order.
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term
    )
    SELECT doc_id, term, tf, tfidf
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
    survey_ref="extended: per-document TF-IDF salient terms",
)
def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, term) term frequencies feed both the document-frequency
    aggregate and the scoring join — term-keyed uniform shuffles; the
    corpus size is a 1-row broadcast aggregate (lazy, off the driver);
    the per-document top-3 window partitions by doc_id, so ranking
    scales with documents, not corpus size."""
    t = catalog.tables(spark, sf_dir)
    tok = t["documents"].select("doc_id", F.explode(text.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t["documents"].agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


@register(
    "lang_mixture_weights",
    oracle="""
    -- Language-mixture reweighting: per-language sampling weight that
    -- moves the corpus to a uniform target mix (weight = target share
    -- / actual share) — the knob for rebalancing under/over-
    -- represented languages before training.
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
             CAST(COUNT(*) AS DOUBLE) AS n_langs
      FROM c
    )
    SELECT lang, n_docs,
           ROUND(n_docs / (SELECT total FROM tot), 6) AS actual_share,
           ROUND((SELECT total FROM tot) / ((SELECT n_langs FROM tot) * n_docs), 6)
             AS weight
    FROM c
    ORDER BY lang
    """,
    survey_ref="extended: language-mixture reweighting (target-share sampling weights)",
)
def q_lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lang-keyed count aggregation; the totals are a 1-row
    broadcast aggregate over the (tiny) per-lang counts. Nothing else
    moves — the weights table is what a sampler joins back against the
    corpus, broadcast."""
    t = catalog.tables(spark, sf_dir)
    c = t["documents"].groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = c.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_langs"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("actual_share"),
            F.round(
                F.col("total") / (F.col("n_langs") * F.col("n_docs")), 6
            ).alias("weight"),
        )
        .orderBy("lang")
    )


#: RAG/context chunking parameters: 16-token windows, stride 12
#: (4-token overlap). Production chunkers run 512/384 over BPE tokens —
#: same plan, different constants (the fixture docs are 10-99 tokens).
CHUNK_TOKENS = 16
CHUNK_STRIDE = 12


@register(
    "doc_chunks",
    oracle=f"""
    -- Overlapping token-window chunking (the RAG / context-length
    -- pre-processing step): starts at 1, 1+stride, ...; a start is
    -- emitted only if the PREVIOUS window did not already reach the
    -- document's end (no fully-contained tail chunks). chunk_id is
    -- derived from the start offset so both engines agree without
    -- relying on explode position semantics.
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ),
    st AS (
      SELECT doc_id, t,
             unnest(list_filter(range(1, len(t) + 1, {CHUNK_STRIDE}),
                    s -> s = 1 OR s - {CHUNK_STRIDE} + {CHUNK_TOKENS} - 1 < len(t)))
               AS start
      FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(list_slice(t, start, start + {CHUNK_TOKENS} - 1)) AS BIGINT)
             AS n_tokens,
           array_to_string(list_slice(t, start, start + {CHUNK_TOKENS} - 1), ' ')
             AS chunk_text
    FROM st
    ORDER BY doc_id, chunk_id
    """,
    survey_ref="extended: overlapping token-window chunking (RAG / context prep)",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → overlapping token-window chunks, one narrow pass.

    tokenize → emit window starts (1, 1+stride, ... while the previous
    window hasn't covered the tail) → explode → slice. All built-ins
    (split/sequence/filter/explode/slice/array_join): the explode
    pre-spreads rows by doc, no shuffle except the output sort, and at
    100 TB the op stays embarrassingly parallel — chunk count per task
    is proportional to input tokens, the only data growth is the
    stride/size overlap factor (16/12 ≈ 1.33× here).
    """
    from ..operators import text

    t = catalog.tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", text.tokens("text").alias("t"))
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
        .select(
            "doc_id",
            "chunk_id",
            F.size("ct").cast("long").alias("n_tokens"),
            F.array_join("ct", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "vocab_coverage_oov",
    oracle=f"""
    -- Tokenizer-eval step: per-document out-of-vocabulary rate against
    -- the frequency-ranked vocabulary (corpus count >= 5 — the same
    -- cut as vocab_build). The aggregate OOV rate is what decides a
    -- vocabulary size; the per-doc rate is the quality filter.
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
    ),
    vocab AS (
      SELECT token FROM tok GROUP BY token HAVING COUNT(*) >= 5
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) / COUNT(*), 4)
             AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    survey_ref="extended: vocabulary OOV-rate evaluation (tokenizer coverage)",
)
def q_vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate vs the corpus vocabulary: one token
    explode feeds BOTH the vocab aggregate and the per-doc join (the
    vocab side collapses to |distinct tokens with count>=5| rows before
    the join — at 100 TB a bounded-vocab broadcast; here left to
    AQE), then one doc-keyed rollup."""
    from ..operators import text

    t = catalog.tables(spark, sf_dir)
    tok = t["documents"].select("doc_id", F.explode(text.tokens("text")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(vocab, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# BM25 (Robertson/Lucene variant) over the fixture corpus for a fixed
# 3-term query. The score is ONE textual SQL expression shared verbatim
# by the Spark side (F.expr) and the DuckDB oracle: identical input
# bits (integer tf/dl/df counts, the same double n_docs/avgdl) through
# identical IEEE ops in identical order → bit-identical doubles, so
# even the pre-round ordering agrees. Per-term contributions are
# PIVOTED into fixed columns and added in literal order — never a
# float SUM over a shuffle whose order could drift (the same trick as
# the drift monitor's fixed literal type order).
_BM25_TERMS = ("dup", "vector", "join")
_BM25_K1 = "1.2"
_BM25_B = "0.75"


def _bm25_term_expr(tf: str, df: str) -> str:
    k1, b = _BM25_K1, _BM25_B
    return (
        f"(ln(1.0 + (n_docs - {df} + 0.5) / ({df} + 0.5))"
        f" * (CAST({tf} AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST({tf} AS DOUBLE) + {k1} * (1.0 - {b} + {b} * CAST(dl AS DOUBLE) / avgdl)))"
    )


_BM25_SCORE = " + ".join(
    _bm25_term_expr(f"tf_{t}", f"df_{t}") for t in _BM25_TERMS
)


def _bm25_oracle(k: int) -> str:
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{t}"
        for t in _BM25_TERMS
    )
    tf_out = ", ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
    WITH d AS (
      SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS dl FROM documents),
    tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
    tfq AS (
      SELECT doc_id,
             {tf_cols}
      FROM tok WHERE term IN ({in_list}) GROUP BY doc_id),
    corpus AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM d),
    dfs AS (
      SELECT {df_cols}
      FROM tfq),
    scored AS (
      SELECT t.doc_id, d.dl, {tf_out}, c.n_docs, c.avgdl, dfs.*
      FROM tfq t JOIN d USING (doc_id) CROSS JOIN corpus c CROSS JOIN dfs)
    SELECT doc_id, {tf_out}, ROUND({_BM25_SCORE}, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {k}
    """


@register(
    "bm25_doc_ranking",
    oracle=_bm25_oracle(k=15),
    survey_ref="extended: BM25 document ranking for a fixed term query (retrieval scoring)",
)
def q_bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval scoring — the sparse half of a RAG / curation
    retrieval stack next to the ANN family. Scale shape: the term
    filter lands immediately after the explode (map-side, before any
    shuffle), so only query-term hits ever move; tf pivots via
    conditional sums in ONE doc-keyed aggregation; corpus stats
    (n_docs, avgdl) and per-term dfs are two 1-row broadcast
    aggregates. The per-doc score is a fixed-order literal expression —
    no float sum rides a shuffle, so the result is width-invariant and
    the oracle replays it bit-exact."""
    t = catalog.tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", F.size(text.tokens("text")).cast("long").alias("dl")
    )
    toks = t["documents"].select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    tfq = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("term") == t_, 1).otherwise(0))
                .cast("long")
                .alias(f"tf_{t_}")
                for t_ in _BM25_TERMS
            ]
        )
    )
    corpus = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfs = tfq.agg(
        *[
            F.sum(F.when(F.col(f"tf_{t_}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{t_}")
            for t_ in _BM25_TERMS
        ]
    )
    scored = (
        tfq.join(docs, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(dfs))
        .withColumn("bm25", F.round(F.expr(_BM25_SCORE), 6))
    )
    return (
        scored.select("doc_id", *[f"tf_{t_}" for t_ in _BM25_TERMS], "bm25")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "lang_source_contingency",
    oracle="""
    -- Chi-square contingency cells for lang x source: observed count,
    -- expected under independence (row_total * col_total / N, exact
    -- integer products then ONE double division), and the cell's
    -- chi-square contribution (O-E)^2/E as a fixed-order expression.
    -- Cells with zero observed docs are omitted (their contribution
    -- is E itself; the margins reconstruct them) - both engines emit
    -- exactly the observed cells.
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    rows_t AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS rt FROM documents GROUP BY lang),
    cols_t AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ct FROM documents GROUP BY source),
    n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT c.lang, c.source, c.o,
           ROUND(CAST(r.rt * ct.ct AS DOUBLE) / t.n, 4) + 0.0 AS expected,
           ROUND(POWER(c.o - CAST(r.rt * ct.ct AS DOUBLE) / t.n, 2)
                 / (CAST(r.rt * ct.ct AS DOUBLE) / t.n), 4) + 0.0 AS chi2_contrib
    FROM cells c
    JOIN rows_t r USING (lang)
    JOIN cols_t ct USING (source)
    CROSS JOIN n_t t
    ORDER BY c.lang, c.source
    """,
    survey_ref="extended: chi-square contingency cells (categorical independence audit)",
)
def q_lang_source_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical independence audit of the corpus mix: per
    (lang, source) cell, the observed doc count, the count expected
    under independence, and the cell's chi-square contribution — the
    residual table a curation pipeline reads to spot source/language
    coupling before fixing sampling weights. Determinism: expected =
    rt·ct/N where the product is an exact BIGINT and the division is
    ONE double op; the contribution is a fixed-order expression per
    ROW (never a float sum across rows). Scale shape: one (lang,
    source) aggregation plus two margin aggregates broadcast back onto
    the 100-cell frame; N enters as a bounded scalar probe."""
    t = catalog.tables(spark, sf_dir)
    docs = t["documents"].select("lang", "source")
    n = docs.count()  # bounded scalar probe
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_t = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("rt"))
    cols_t = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.lit(n)
    return (
        cells.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .select(
            "lang",
            "source",
            "o",
            (F.round(e, 4) + 0.0).alias("expected"),
            (F.round(F.pow(F.col("o") - e, 2) / e, 4) + 0.0).alias("chi2_contrib"),
        )
        .orderBy("lang", "source")
    )


@register(
    "quality_percentile_norm",
    oracle=f"""
    -- Percentile-rank normalization of a per-doc quality signal
    -- (type/token ratio): rank over the tiebreak-complete
    -- (ratio, doc_id) order, pct = (rn-1)/(n-1). The ratio is already
    -- rounded to 4dp by the scoring contract, so the rank order is
    -- engine-stable; the pct division is one double op over exact
    -- integers.
    WITH scored AS (
      SELECT doc_id,
             ROUND(len(list_distinct({_DUCK_TOKENS}))
                   / len({_DUCK_TOKENS}), 4) AS ttr
      FROM documents),
    ranked AS (
      SELECT doc_id, ttr,
             ROW_NUMBER() OVER (ORDER BY ttr, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM scored)
    SELECT doc_id, ttr, CAST(rnk AS BIGINT) AS rnk,
           ROUND(CAST(rnk - 1 AS DOUBLE) / (n - 1), 6) + 0.0 AS pct_rank
    FROM ranked ORDER BY doc_id
    """,
    survey_ref="extended: percentile-rank feature normalization (distributed global rank)",
)
def q_quality_percentile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature normalization for curation models: each document's
    type/token ratio mapped to its global percentile rank — the
    scale-free transform that makes a quality threshold mean the same
    thing across corpus snapshots. The global rank is
    operators/sampling.distributed_row_number (range-partitioned
    two-phase rank — NO Exchange SinglePartition, the trap of a bare
    ``row_number() OVER (ORDER BY …)``); the corpus count enters the
    pct formula as one bounded scalar probe. The ranked signal is
    pre-rounded to 4dp (the scoring contract), so rank order is
    engine-stable and pct is one double division of exact integers."""
    from ..operators.sampling import distributed_row_number

    t = catalog.tables(spark, sf_dir)
    scored = t["documents"].select(
        "doc_id",
        F.round(
            text.distinct_token_count("text") / text.token_count("text"), 4
        ).alias("ttr"),
        # r16: stage the scored projection once — the count probe plus
        # the rank pass (range-boundary sampling + local-rank/offset
        # join) re-ran the tokenize-and-count scan 4x unstaged.
    ).transform(stage_frame)
    n = scored.count()  # bounded scalar probe
    return (
        distributed_row_number(scored, ("ttr", "doc_id"), "rnk")
        .select(
            "doc_id",
            "ttr",
            "rnk",
            (
                F.round((F.col("rnk") - 1).cast("double") / F.lit(n - 1), 6) + 0.0
            ).alias("pct_rank"),
        )
        .orderBy("doc_id")
    )


@register(
    "token_prefix_completions",
    oracle=f"""
    -- Autocomplete index: top-3 completions per 3-char prefix by
    -- corpus frequency ((n DESC, token ASC) tiebreak-complete rank).
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS token FROM documents),
    counts AS (
      SELECT substr(token, 1, 3) AS prefix, token,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tok WHERE length(token) >= 4
      GROUP BY substr(token, 1, 3), token),
    ranked AS (
      SELECT prefix, token, n,
             ROW_NUMBER() OVER (PARTITION BY prefix
                                ORDER BY n DESC, token ASC) AS rnk
      FROM counts)
    SELECT prefix, CAST(rnk AS BIGINT) AS rnk, token, n
    FROM ranked WHERE rnk <= 3
    ORDER BY prefix, rnk
    """,
    survey_ref="extended: prefix-completion index (search/autocomplete top-k per prefix)",
)
def q_token_prefix_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-autocomplete index build: the 3 most frequent
    completions for every 3-character token prefix. One explode +
    (prefix, token) count, then ONE window whose ``row_number() <= 3``
    compiles to a map-side Partial WindowGroupLimit
    (InferWindowGroupLimit) — each partition ships at most 3 rows per
    prefix into the exchange, so a hot prefix's shuffle input is
    bounded by 3×partitions, never by its token count. The same
    rank-limit shape as per_key_cap, exercised on a text workload."""
    t = catalog.tables(spark, sf_dir)
    tok = t["documents"].select(F.explode(text.tokens("text")).alias("token"))
    counts = (
        tok.filter(F.length("token") >= 4)
        .groupBy(F.substring("token", 1, 3).alias("prefix"), "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("prefix").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("prefix", "rnk", "token", "n")
        .orderBy("prefix", "rnk")
    )


@register(
    "token_cms_heavy_hitters",
    oracle="""
    -- Count-Min-sketch heavy hitters: 4 hash rows x 256 columns of
    -- integer counts (ONE corpus pass, mergeable cells), token
    -- estimate = min over its 4 cells. Hashes are md5-derived so both
    -- engines place every token in identical cells; counts are exact
    -- integers; est >= true by construction (collisions only inflate).
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
    hashed AS (
      SELECT token,
             CAST(concat('0x', substr(md5('cms0:' || token), 1, 15)) AS BIGINT) % 256 AS c0,
             CAST(concat('0x', substr(md5('cms1:' || token), 1, 15)) AS BIGINT) % 256 AS c1,
             CAST(concat('0x', substr(md5('cms2:' || token), 1, 15)) AS BIGINT) % 256 AS c2,
             CAST(concat('0x', substr(md5('cms3:' || token), 1, 15)) AS BIGINT) % 256 AS c3
      FROM tok),
    cells AS (
      SELECT j, col, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 0 AS j, c0 AS col FROM hashed
        UNION ALL SELECT 1, c1 FROM hashed
        UNION ALL SELECT 2, c2 FROM hashed
        UNION ALL SELECT 3, c3 FROM hashed) t
      GROUP BY j, col),
    truth AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS true_n,
             MIN(c0) AS c0, MIN(c1) AS c1, MIN(c2) AS c2, MIN(c3) AS c3
      FROM hashed GROUP BY token),
    est AS (
      SELECT t.token, t.true_n,
             LEAST(s0.n, s1.n, s2.n, s3.n) AS cms_est
      FROM truth t
      JOIN cells s0 ON s0.j = 0 AND s0.col = t.c0
      JOIN cells s1 ON s1.j = 1 AND s1.col = t.c1
      JOIN cells s2 ON s2.j = 2 AND s2.col = t.c2
      JOIN cells s3 ON s3.j = 3 AND s3.col = t.c3)
    SELECT token, true_n, cms_est FROM est
    ORDER BY cms_est DESC, token ASC LIMIT 15
    """,
    survey_ref="extended: Count-Min-sketch heavy hitters (mergeable fixed-size state, one pass)",
)
def q_token_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens through a Count-Min sketch — the streaming/
    federated alternative to an exact token count when the vocabulary
    doesn't fit anywhere: the sketch is a FIXED 4×256 integer grid
    (one corpus pass, cells partial-aggregate map-side and MERGE by
    addition across shards/days), and any token's frequency reads back
    as the min of its 4 cells — an overestimate by at most the
    collision mass, never an undercount.

    Determinism: cell placement is md5-derived (identical on both
    engines), counts are exact integers, and the top-15 report ranks
    on (cms_est DESC, token ASC) — a total order. The exact `true_n`
    rides along so the oracle also pins the overestimate property
    row-for-row (tests/test_extended_ops.py asserts est ≥ true over
    the WHOLE vocabulary, not just the reported top).

    Scale shape: explode → 4× union fan-out → 1024-cell aggregate
    (shuffle carries ≤1024 rows per input partition); the readback
    joins the distinct-token frame to the 1024-row sketch via
    broadcast. At 100 TB the sketch never grows — only the readback's
    distinct-token frame scales, and a production flow reads back only
    candidate tokens, not the vocabulary.
    """
    t = catalog.tables(spark, sf_dir)
    tok = t["documents"].select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    )

    def cell(j: int) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"cms{j}:"), F.col("token"))), 1, 15), 16, 10)
            .cast("long") % 256
        )

    # cell placement depends only on the TOKEN — count occurrences
    # first (one groupBy), then hash the vocabulary-sized frame (4 md5
    # per distinct token, not per occurrence) and weight each cell by
    # the count; staged once for its two consumers (cells, readback)
    truth = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
        .select("token", "true_n", *[cell(j).alias(f"c{j}") for j in range(4)])
        .transform(stage_frame)
    )
    cells = (
        truth.selectExpr("true_n", "stack(4, 0, c0, 1, c1, 2, c2, 3, c3) AS (j, col)")
        .groupBy("j", "col")
        .agg(F.sum("true_n").cast("long").alias("n"))
    )
    est = truth
    for j in range(4):
        sj = cells.filter(F.col("j") == j).select(
            F.col("col").alias(f"c{j}"), F.col("n").alias(f"n{j}")
        )
        est = est.join(F.broadcast(sj), f"c{j}")
    return (
        est.select(
            "token",
            "true_n",
            F.least("n0", "n1", "n2", "n3").alias("cms_est"),
        )
        .orderBy(F.desc("cms_est"), F.asc("token"))
        .limit(15)
    )
