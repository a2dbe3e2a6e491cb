"""Z-order (Morton-curve) data clustering for multi-column file pruning.

A sort-on-write clusters one leading column: parquet min/max row-group
stats then prune scans filtering on THAT column, and nothing else. At
100 TB most tables are filtered on several columns (tenant + time,
key + date); interleaving the bits of each column's bucketed value
yields a space-filling curve where every participating column's value
range stays narrow within each file — so min/max pruning works for ALL
of them, not just the first sort key. This is the same layout idea as
Delta/Iceberg ``OPTIMIZE ZORDER BY``, built here from plain Spark
expressions (``width_bucket`` + bit shifts — whole-stage-codegen'd,
no UDFs).

Buckets are uniform over each column's observed [min, max] (one tiny
aggregate, collected to literals). Equi-depth bucketing would balance
skew better but costs a per-row search over percentile boundaries;
uniform is the standard practical choice and degrades gracefully —
skewed values crowd buckets, pruning power shrinks, correctness is
unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(
    df: DataFrame, cols: list[str], *, bits: int = 12
) -> Column:
    """A long Column interleaving ``bits`` bits per column (Morton
    code). ``len(cols) * bits`` must fit in 63 bits. NULLs map to
    bucket 0 (they cluster together at the curve origin)."""
    if not cols or len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (one column: just sort)")
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    n_buckets = 1 << bits
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).first()

    bucketed: list[Column] = []
    for c in cols:
        lo, hi = stats[f"__lo_{c}"], stats[f"__hi_{c}"]
        if lo is None or hi is None or lo == hi:
            bucketed.append(F.lit(0).cast("long"))
            continue
        # width_bucket is 1..n inside the range; clamp + shift to 0..n-1
        b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))
        bucketed.append(
            F.coalesce(
                F.least(F.greatest(b - 1, F.lit(0)), F.lit(n_buckets - 1)),
                F.lit(0),
            ).cast("long")
        )

    ncols = len(cols)
    key = F.lit(0).cast("long")
    for bit in range(bits):
        for ci, b in enumerate(bucketed):
            out_pos = bit * ncols + ci
            key = key + (
                F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)), out_pos)
            )
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    by: list[str],
    *,
    bits: int = 12,
    n_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered along the Z-curve of ``by``: range-
    partition on the Morton key (contiguous curve segments per file)
    and sort within partitions, so every file covers a narrow value
    box in ALL ``by`` columns. ``n_files`` defaults to the current
    partition count. One shuffle (the range partitioner's sample +
    exchange) — the price of the layout, paid once per write, repaid
    by every pruned scan after. A csv write carries a header row, the
    convention every other file path reads and writes."""
    key = zorder_key(df, by, bits=bits)
    staged = df.withColumn("__zk", key)
    n = n_files or df.rdd.getNumPartitions()
    writer = (
        staged.repartitionByRange(int(n), F.col("__zk"))
        .sortWithinPartitions("__zk")
        .drop("__zk")
        .write.mode(mode)
        .format(fmt)
    )
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
