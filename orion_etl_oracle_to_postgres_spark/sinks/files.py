"""File sink — parquet/csv/json/orc writer used by the dev/test loop,
with hive-style partitioned layout and within-partition sort for
scale-out data layout control."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from ..spec import FilesConnectorSpec


def write_file_table(
    df: DataFrame,
    conn: FilesConnectorSpec,
    table: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Write the table directory ``<base>/<table>``. ``partition_by`` produces a
    hive-style ``col=value/`` layout, which later reads prune by
    partition (the 100 TB analogue: time/tenant partition columns turn
    full scans into directory listings). Before a partitioned write the
    frame is repartitioned ON the partition columns — otherwise every
    task emits one file per partition value it happens to hold and a
    32-task × 1000-value write shatters into 32k small files; after
    repartitioning it is exactly one file per value per bucket of rows.
    ``sort_by`` sorts within partitions (clustering for row-group
    min/max pruning and better compression), never a global sort — a
    global sort would be an all-data range shuffle with nothing to show
    for it at read time."""
    path = Path(conn.base_path) / table
    if partition_by:
        df = df.repartition(*partition_by)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode).format(conn.format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if conn.format == "csv":
        writer = writer.option("header", "true")
    writer.save(str(path))
