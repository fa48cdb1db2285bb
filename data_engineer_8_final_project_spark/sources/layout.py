"""Z-order file layout for multi-dimensional data-skipping.

At 100 TB a table is thousands of parquet files, and the scan planner
prunes whole files from their footer min/max column stats. A sort on
one column clusters only that column — a predicate on any other column
still touches every file. Z-ordering interleaves the bits of several
columns into one sort key so that sorting by the key clusters ALL the
participating dimensions at once: a selective predicate on any of them
skips most files (the same layout trick Delta Lake's ``OPTIMIZE ZORDER
BY`` and the classic UB-tree literature use).

Everything here is built-in column expressions (shift/and/or), fully
codegen-able — no UDFs, no driver-side loops beyond a single bounds
aggregate (one tiny 1-row collect, the same pattern as any min/max
statistics pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import with_conf

#: Bits kept per dimension. 16 bits/dim keeps the interleaved key in a
#: BIGINT for up to 4 dims and bounds the expression tree (bits × dims
#: shift/or terms) well inside codegen limits.
DEFAULT_BITS = 16


def _quantize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) by proportional scaling.

    Constant columns (hi == lo) map to 0 — they contribute nothing to
    the ordering, which is the correct degenerate behavior.
    """
    span = hi - lo
    scaled = F.when(
        span > 0,
        F.floor((col.cast("double") - lo) / span * ((1 << bits) - 1)),
    ).otherwise(F.lit(0))
    # clamp: floating-point edge can land exactly on 2^bits - 1 + 1ulp
    return F.least(F.greatest(scaled, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")


def zvalue(quantized: list[Column], bits: int = DEFAULT_BITS) -> Column:
    """Interleave the bits of pre-quantized [0, 2^bits) integer columns.

    Bit i of dimension d lands at position ``i * ndims + d`` — the
    textbook Morton code, as a flat OR-chain of shift/mask terms that
    whole-stage codegen compiles to straight-line long arithmetic.
    """
    ndims = len(quantized)
    terms = []
    for d, q in enumerate(quantized):
        for i in range(bits):
            terms.append(F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), i * ndims + d))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def with_zorder_key(df: DataFrame, cols: list[str], bits: int = DEFAULT_BITS) -> DataFrame:
    """Add a ``_zkey`` Morton-code column over ``cols``.

    Bounds come from one global min/max aggregate — a single 1-row
    collect, identical in cost to computing table statistics, and the
    only non-lazy step. At scale this pass reads footer stats only
    (min/max of parquet columns), not data pages.
    """
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
    ).first()
    qs = [
        _quantize(
            F.col(c),
            F.lit(float(bounds[f"lo_{c}"])),
            F.lit(float(bounds[f"hi_{c}"])),
            bits,
        )
        for c in cols
    ]
    return df.withColumn("_zkey", zvalue(qs, bits))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = DEFAULT_BITS,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by Z-order.

    ``repartitionByRange`` on the Morton key gives each output file a
    contiguous key range (range exchange with sampled bounds — skew in
    the key distribution lands proportionally, not all-in-one-file),
    and the within-partition sort makes every file's min/max tight on
    every participating dimension. The ``_zkey`` helper column is
    dropped from the stored schema.

    The file count is part of this function's CONTRACT (a compaction
    job sizes files deliberately), so the confs that can re-plan the
    exchange — AQE partition coalescing and the range-sampler's seed
    input ``spark.sql.shuffle.partitions`` — are pinned on a session
    clone for this write alone: confs that earlier queries retuned must
    not change this layout, and the pins must reach no other query.
    """
    pins = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": str(n_files),
        # Range bounds come from a sample whose RNG seed is derived from
        # the shuffle RDD's id — a session-global counter — so with the
        # default 100 samples/partition the file boundaries (and thus
        # every file's min/max footer stats) drift run-to-run depending
        # on what executed earlier in the session. Tight, reproducible
        # boundaries ARE the product of a layout job, so sample densely:
        # RangePartitioner hard-caps total samples at 1e6, which keeps
        # this write-time cost bounded at any table size.
        "spark.sql.execution.rangeExchange.sampleSizePerPartition": "1000000",
    }
    clustered = (
        with_zorder_key(df, cols, bits)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    with_conf(clustered, pins).write.mode("overwrite").parquet(path)
