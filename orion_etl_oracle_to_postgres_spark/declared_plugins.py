"""Reconstructed implementations of the plugins the reference DECLARES
but never ships.

The reference's example configs name five plugins with no module behind
them — ``normalize_names`` and ``calculate_age_transform``
(``/root/reference/config/tables/table_example.yaml:20-21``),
``bulk_loader`` (``:24``), ``directory_column_mapping``
(``/root/reference/config/config.yaml:14``, even imported by
``/root/reference/plugins/__init__.py:1``), and ``incremental_fetcher``
(``:10``, realized by ``streaming/incremental.py``). Per SURVEY.md §2.6
the capability surface is "shipped code ∪ declared hooks", so these
reconstruct the obvious semantics of each name; every docstring states
the interpretation so a reviewer can audit the guess.

Importing this module registers all of them.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import functions as F

from . import registry
from .spec import MappingSpec

logger = logging.getLogger(__name__)

_CAMEL = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_NONWORD = re.compile(r"[^0-9a-zA-Z]+")


def _snake(name: str) -> str:
    return _NONWORD.sub("_", _CAMEL.sub("_", name)).strip("_").lower()


@registry.register("transform", "normalize_names")
def normalize_names(df, ctx):
    """Interpretation: normalize COLUMN NAMES to snake_case (the
    classic Oracle→Postgres rename: ``CustomerID``/``CUSTOMER-ID`` →
    ``customer_id``). Collisions after normalization are an error —
    silently merging two columns would corrupt the load."""
    renames = {c: _snake(c) for c in df.columns}
    if len(set(renames.values())) != len(renames):
        dupes = sorted(
            {v for v in renames.values() if list(renames.values()).count(v) > 1}
        )
        raise ValueError(f"normalize_names: column collision on {dupes}")
    for old, new in renames.items():
        if old != new:
            df = df.withColumnRenamed(old, new)
    return df


@registry.register("transform", "calculate_age_transform")
def calculate_age_transform(df, ctx):
    """Interpretation: derive an ``age`` (whole years) column from the
    first birth-date-ish column (``birth_date``/``dob``/
    ``date_of_birth``), as of the session clock. No such column →
    passthrough with a log line (the reference's forgiving-miss
    convention, ``default_transform.py:38-39``)."""
    for cand in ("birth_date", "dob", "date_of_birth", "birthdate"):
        if cand in df.columns:
            return df.withColumn(
                "age",
                F.floor(
                    F.months_between(
                        F.current_date(), F.col(cand).try_cast("date")
                    )
                    / 12
                ).cast("int"),
            )
    logger.info("calculate_age_transform: no birth-date column — passthrough")
    return df


@registry.register("loader", "bulk_loader")
def bulk_loader(df, ctx, spec):
    """Interpretation: the default sink with bulk-tuned JDBC batching
    (batchsize 50k instead of the batch_size-capped default) —
    ``execute_values(page_size=1000)`` scaled up. File targets write
    identically to the default path."""
    ctx.write_target(df, spec, batchsize=50_000)


@registry.register("auto_mapping", "directory_column_mapping")
def directory_column_mapping(ctx, spec, source_columns, target_columns):
    """Interpretation (from the name + the reference's import of a
    ``DirectoryMapping`` class): mapping rules live as per-table CSV
    files in a directory — ``<dir>/<source_table>.csv`` with
    ``source,target`` rows — pointed at by the ``MAPPING_DIR`` env var
    (the reference couples config through process env, ``cli.py:36-47``)
    or ``<tables_folder>/mappings``. Missing file → fall back to the
    default 1:1 auto-mapping."""
    from .operators.automap import auto_map

    base = os.environ.get(
        "MAPPING_DIR", os.path.join(ctx.global_spec.tables_folder, "mappings")
    )
    path = os.path.join(base, f"{spec.source_table}.csv")
    if not os.path.exists(path):
        logger.info("directory_column_mapping: no %s — default auto-map", path)
        return auto_map(spec, source_columns, target_columns)
    rules: list[MappingSpec] = []
    with open(path, encoding="utf-8") as fh:
        for ln, line in enumerate(fh):
            line = line.strip()
            if not line or line.startswith("#") or line.lower() == "source,target":
                continue
            parts = [p.strip() for p in line.split(",")]
            if len(parts) != 2 or not all(parts):
                raise ValueError(f"{path}:{ln + 1}: expected 'source,target'")
            rules.append(MappingSpec(source=parts[0], target=parts[1]))
    if not rules:
        raise ValueError(f"{path}: no mapping rows")
    missing = [r.source for r in rules if r.source not in source_columns]
    if missing:
        logger.warning(
            "directory_column_mapping: %s maps absent source columns %s — dropped",
            path,
            missing,
        )
        rules = [r for r in rules if r.source in source_columns]
    return rules
