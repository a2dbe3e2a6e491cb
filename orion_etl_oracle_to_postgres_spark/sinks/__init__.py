"""Sinks: file + JDBC writers (SURVEY.md §2.3), and the one place that
knows how a target table is written.

The target rule: a files target always lives at ``<base>/<table>`` and
ignores the table's ``target_schema`` (a JDBC concept); a JDBC target
gets the schema and the caller's ``batchsize``; ``partition_by``,
``zorder_by``, ``shards`` and ``manifest`` need a files target.
"""

from pathlib import Path

from .files import write_file_table
from .jdbc import write_jdbc_table

__all__ = [
    "files_target",
    "replace_table",
    "resolve_sink",
    "write_file_table",
    "write_jdbc_table",
]


def files_target(connectors, table, option):
    """``(path, format)`` of ``table`` on the files target. ``option``
    names what needs the directory layout (``"zorder_by"``,
    ``"--compact"``...) in the error raised for any other target."""
    conn = connectors.target_files
    if conn is None:
        raise ValueError(
            f"table {table!r}: {option} needs a files target connector; "
            "a JDBC target has no directory layout"
        )
    return str(Path(conn.base_path) / table), conn.format


def resolve_sink(
    df,
    connectors,
    table,
    schema=None,
    mode="overwrite",
    partition_by=None,
    sort_by=None,
    **kw,
):
    """Files in dev/test, else Postgres JDBC (the reference's target).
    ``schema`` and ``kw`` (``batchsize``, ``staging_swap``...) only
    reach a JDBC target."""
    if connectors.target_files is not None:
        return write_file_table(
            df,
            connectors.target_files,
            table,
            mode=mode,
            partition_by=partition_by,
            sort_by=sort_by,
        )
    jdbc_conn = connectors.target_jdbc or connectors.postgres
    if jdbc_conn is None:
        raise ValueError("no target connector configured")
    if partition_by:
        raise ValueError(
            f"table {table!r}: partition_by is a file-layout option; "
            "a JDBC target has no directory layout"
        )
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)  # insert-order locality
    return write_jdbc_table(df, jdbc_conn, table, schema, mode, **kw)


def replace_table(
    df, connectors, table, schema=None, partition_by=None, sort_by=None, **kw
):
    """Overwrite ``table`` with a frame whose plan READS it (an SCD2
    merge). A files target stages to ``<table>.__scd2`` and swaps the
    directories (same pattern as ``compact_dataset``); a JDBC target
    eagerly materializes the frame (``localCheckpoint``) before the
    truncating overwrite."""
    if connectors.target_files is None:
        resolve_sink(
            df.localCheckpoint(), connectors, table, schema, mode="overwrite",
            partition_by=partition_by, sort_by=sort_by, **kw,
        )
        return
    from .maintenance import swap_dataset

    stage = f"{table}.__scd2"
    write_file_table(
        df, connectors.target_files, stage,
        mode="overwrite", partition_by=partition_by, sort_by=sort_by,
    )
    base = Path(connectors.target_files.base_path)
    swap_dataset(df.sparkSession, str(base / table), str(base / stage))
