"""JDBC sink (K1/K2).

Replaces the reference's single-connection ``execute_values`` loop
(``/root/reference/plugins/default_loader.py:80-107``) with Spark's
parallel per-partition JDBC writer. ``batchsize`` ≈ the reference's
page_size=1000 (``:105``); ``truncate=true`` + overwrite ≈ its batch-0
``TRUNCATE TABLE ... RESTART IDENTITY CASCADE`` (``:38-45``).

Atomicity note (SURVEY.md §7.4.9): the reference's TRUNCATE-then-commit-
per-batch leaves partial loads visible mid-run. ``staging_swap=True``
writes to ``<table>__stg`` and atomically renames via driver-side DDL —
cleaner semantics, off by default for parity.

Derby targets (the generic ``target_jdbc`` connector): Spark's Derby
dialect binds a NULL string as CLOB, and Derby refuses a CLOB value for
a VARCHAR column (SQLState 22005), so a pre-created Derby target needs
CLOB text columns. The bind type comes from the JVM-side dialect;
nothing in this module can change it.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame


def write_jdbc_table(
    df: DataFrame,
    conn: Any,
    table: str,
    schema: str | None = None,
    mode: str = "overwrite",
    *,
    batchsize: int = 1000,
    truncate: bool = True,
    staging_swap: bool = False,
) -> None:
    target = f"{schema}.{table}" if schema else table
    if staging_swap and mode == "overwrite":
        staging = f"{schema}.{table}__stg" if schema else f"{table}__stg"
        # Clone the TARGET's real DDL into the staging table (types,
        # defaults, constraints, indexes) and append into it — letting
        # Spark create the staging table would swap the target's schema
        # for Spark's inferred DDL (TEXT columns, no PK) on every load.
        # First load (no target yet): fall back to Spark-created DDL.
        from ..dbapi import execute_sql

        cloned = False
        try:
            execute_sql(
                conn,
                [
                    f"DROP TABLE IF EXISTS {staging}",
                    f"CREATE TABLE {staging} (LIKE {target} INCLUDING ALL)",
                ],
            )
            cloned = True
        except Exception as e:  # noqa: BLE001 — classified below
            from ..compiler import _is_missing_table_error

            if not _is_missing_table_error(e):
                raise  # auth/network failures must not silently degrade DDL
        _write(
            df,
            conn,
            staging,
            "append" if cloned else "overwrite",
            batchsize,
            truncate=False,
        )
        _swap_tables(conn, schema, table)
        return
    _write(df, conn, target, mode, batchsize, truncate)


def _write(df, conn, dbtable, mode, batchsize, truncate):
    from ..sources.jdbc import dialect_options

    w = df.write.format("jdbc").mode(mode)
    # dialect defaults first (e.g. Postgres reWriteBatchedInserts /
    # stringtype=unspecified) so the explicit options below override
    for k, v in dialect_options(conn.jdbc_url, for_write=True).items():
        w = w.option(k, v)
    (
        w.option("url", conn.jdbc_url)
        .option("user", conn.user)
        .option("password", conn.password)
        .option("dbtable", dbtable)
        .option("batchsize", str(batchsize))
        .option("truncate", "true" if truncate else "false")
        .option("isolationLevel", "READ_COMMITTED")
        .save()
    )


def _swap_tables(conn: Any, schema: str | None, table: str) -> None:
    """Atomic staging swap via driver-side DDL — both statements run in
    ONE transaction through ``dbapi.execute_sql`` (a failure between the
    DROP and the RENAME must roll back, or the target vanishes).

    Identifiers are deliberately UNQUOTED so they case-fold exactly like
    Spark's own ``dbtable`` DDL did when it created/loaded the staging
    table (quoting here while Spark folded there would rename a table
    that doesn't exist). Names that NEED quoting (spaces, mixed case you
    want preserved) already break Spark's writer — not supported on the
    staging path."""
    from ..dbapi import execute_sql

    qualified = f"{schema}.{table}" if schema else table
    staging = f"{schema}.{table}__stg" if schema else f"{table}__stg"
    execute_sql(
        conn,
        [
            f"DROP TABLE IF EXISTS {qualified}",
            f"ALTER TABLE {staging} RENAME TO {table}",
        ],
    )
