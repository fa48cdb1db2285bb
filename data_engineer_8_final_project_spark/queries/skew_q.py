"""Skew-proof queries: zipfian hot keys over generated million-row data.

At 100 TB the engine's heavy shuffles fall into three shapes, and each
has a DIFFERENT skew answer — this module exists to prove the first two
with data instead of a conf reference (VERDICT r5 item 7):

(a) **Enrichment joins** keyed by user/domain (sessions, as-of, CDC
    snapshot joins): real key frequency is zipfian — one hot user or
    domain can hold a double-digit share of a day's events. This is
    AQE skew-join territory: the hot map-side partition is split into
    advisory-sized chunks, each joined against a copy of the matching
    build rows. ``skewed_user_join`` is that shape at measurable scale;
    ``tests/test_skew.py`` pins the split actually engaging.
(b) **Per-key aggregations** with the same keys (standings rollup,
    per-source counts): handled by map-side partial aggregation — the
    shuffle carries at most |keys| rows per map task no matter how hot
    a key is. Plan-pinned in tests/test_skew.py.
(c) **Dedup band self-joins** (simhash/minhash buckets): a hot bucket
    is quadratic in its OUTPUT, which no partition split can bound —
    the mitigation is upstream: exact dedup runs first and the
    shingle/minhash tiers cap bucket width (``max_df``/``max_bucket``,
    tests/test_dedup.py), so band buckets stay narrow by construction.

The fixture is generated, not read: keys derive from md5(row index) —
the same portable-hash idiom as the sampling operators — so the DuckDB
oracle regenerates the identical zipfian table and the driver's
rows+schema+hash gate stays decidable. Row counts are FIXED (not
sf-scaled) so bench numbers stay comparable across scale factors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register

#: Hot key share (percent) — 30% of fact rows land on user_key 0.
HOT_PCT = 30
N_FACT = 1_000_000
#: Dimension rows: sized so the build side is decisively NOT
#: broadcastable (8M × 16B raw ≈ 128 MB) — the join must shuffle both
#: sides, which is exactly the plan shape whose hot partition AQE
#: splits at scale.
N_DIM = 8_000_000
N_COLD_KEYS = 1_000

#: Knuth multiplicative constant — cheap deterministic "attribute" for
#: the dimension without a per-row md5 (8M of those would dominate the
#: query's cost with work that proves nothing).
_WEIGHT_MULT = 2654435761


def zipf_fact(
    spark: SparkSession,
    n_rows: int = N_FACT,
    hot_pct: int = HOT_PCT,
    n_keys: int = N_COLD_KEYS,
) -> DataFrame:
    """n_rows events whose user_key is zipf-ish: ``hot_pct``% of rows on
    key 0, the rest uniform over 1..n_keys. Deterministic (md5 of the
    row index decides hot membership) and coordination-free — the same
    f(index) generation pattern as sources/generator.py.

    ``payload`` is a high-entropy per-row string: real event rows carry
    bodies, and an enrichment join ships them through the shuffle. A
    key-only fact would make the hot partition nearly weightless (322k
    repeats of the literal 0 run-length-compress to a few KB) and the
    skew it models would vanish from the map output statistics that
    drive AQE's split decision."""
    ids = spark.range(0, n_rows, 1, 32)
    hv = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast("long")
    key = F.when(hv % 100 < hot_pct, F.lit(0).cast("long")).otherwise(
        F.col("id") % n_keys + 1
    )
    payload = F.md5(F.concat(F.col("id").cast("string"), F.lit(":p")))
    return ids.select(
        F.col("id").alias("event_id"), key.alias("user_key"), payload.alias("payload")
    )


def user_dim(spark: SparkSession, n_rows: int = N_DIM) -> DataFrame:
    """One row per user_key 0..n_rows-1 with a deterministic weight."""
    ids = spark.range(0, n_rows, 1, 32)
    return ids.select(
        F.col("id").alias("user_key"),
        ((F.col("id") * _WEIGHT_MULT) % 1000).alias("w"),
    )


@register(
    "skewed_user_join",
    oracle=f"""
    WITH fact AS (
      SELECT i AS event_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 100 < {HOT_PCT}
                  THEN 0 ELSE i % {N_COLD_KEYS} + 1 END AS user_key,
             md5(CAST(i AS VARCHAR) || ':p') AS payload
      FROM range(0, {N_FACT}) t(i)
    ),
    dim AS (
      SELECT i AS user_key, (i * {_WEIGHT_MULT}) % 1000 AS w
      FROM range(0, {N_DIM}) t(i)
    )
    SELECT fact.user_key % 97 AS key_bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(w) AS BIGINT) AS w_sum,
           CAST(SUM(CAST(('0x' || substring(payload, 1, 4)) AS BIGINT)) AS BIGINT)
             AS payload_check
    FROM fact JOIN dim USING (user_key)
    GROUP BY 1
    ORDER BY key_bucket
    """,
    survey_ref="extended: skewed big-big join (zipfian hot key, AQE skew-split shape)",
)
def q_skewed_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big enrichment join under a 30%-hot zipfian key.

    ``sf_dir`` is deliberately unused: the tables are generated at a
    fixed size so the bench number measures the same work at every
    scale factor. The join is sort-merge by construction (the dim side
    is ~128 MB raw — far over any broadcast threshold); at production
    thresholds the hot partition is what AQE's skew split carves up
    (proven with lowered thresholds in tests/test_skew.py — the
    default 256 MB trip-wire is deliberately NOT reachable at bench
    scale, and the bench must not leak session confs into the queries
    that follow it)."""
    del sf_dir
    fact = zipf_fact(spark)
    dim = user_dim(spark)
    return (
        fact.join(dim, "user_key")
        .groupBy((F.col("user_key") % 97).alias("key_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("w").alias("w_sum"),
            # payload checksum: forces the event bodies through the
            # shuffled join (what a real enrichment ships), and pins
            # that every row's payload survived it
            F.sum(
                F.conv(F.substring("payload", 1, 4), 16, 10).cast("long")
            ).alias("payload_check"),
        )
        .orderBy("key_bucket")
    )
