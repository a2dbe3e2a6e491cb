"""File-based table source.

The dev/test harness reads driver-generated parquet
(``/root/repo/TESTDATA.md``); production can point the same connector at
any Spark-readable path (parquet/csv/json/orc on local/HDFS/S3). Filter
and projection pushdown into the parquet scan come free from Catalyst —
verify with ``df.explain`` (PushedFilters / ReadSchema).
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spec import FilesConnectorSpec

logger = logging.getLogger(__name__)


def table_path(conn: FilesConnectorSpec, table: str, schema: str | None = None) -> str:
    """``<base>/<schema>/<table>.<fmt>`` if the schema subdir exists,
    else ``<base>/<table>.<fmt>`` (TESTDATA layout), else a bare
    directory ``<base>/<table>`` (partitioned datasets)."""
    base = Path(conn.base_path)
    candidates = []
    if schema:
        candidates.append(base / schema / f"{table}.{conn.format}")
        candidates.append(base / schema / table)
    candidates.append(base / f"{table}.{conn.format}")
    candidates.append(base / table)
    for c in candidates:
        if c.exists():
            return str(c)
    # Local base path with no candidate present: fail fast here instead of
    # letting Spark raise (and noisily WARN-log) an analysis error — the
    # compiler's lookup resolution probes target-then-source and relies on
    # a cheap miss. Remote paths (s3://, hdfs://...) can't be stat'ed
    # cheaply, so defer those to Spark.
    if "://" not in conn.base_path:
        raise FileNotFoundError(f"no file table {table!r} under {conn.base_path}")
    return str(base / f"{table}.{conn.format}")


def scan_fanout(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Derive scan parallelism from input size instead of inheriting the
    file layout (optimization guide §2.5 input skew / §6 input splits).

    A table landed as one small parquet file holds a single row group,
    so Spark scans it as ONE task no matter how many cores exist — and
    every narrow computation downstream of the scan (shingling, per-row
    hashing, vector math) serializes on one core while the rest idle
    (measured: the dedup_minhash shingle+128-hash stage ran 2.5 s on 1
    task with 31 cores idle at sf0.1). When the size-derived split count
    (bytes / maxPartitionBytes) is below the session's default
    parallelism, repartition right after the read; on production tables
    (bytes ≫ cores × maxPartitionBytes) the condition is false and NO
    exchange is added, so the 100 TB plan shape is unchanged. Tables
    below ``_FANOUT_MIN_BYTES`` (dimension tables like nation/region)
    are left alone — for them the exchange would cost more than the
    parallelism buys.

    Applied ONLY where the downstream work is compute-dense per row
    (text shingling/hashing, vector math, Levenshtein verify,
    portable-md5 sketch builds): OPT-IN call sites in the registry
    (``_t(..., fanout=True)`` on dense documents consumers, the
    embeddings table default, the er_fuzzy_join_parts part scan) and
    compiled tables whose spec carries a compute-dense stage
    (``compiler`` scan fan-out hook). Measured at sf0.1, fanning out
    relational/statistical consumers COSTS 0.1-1 s per query — the
    exchange + extra stage outweigh the parallel gains when the
    per-row work is a comparison or a sum (the r12 blanket fan-out
    regressed 14 tail queries; VERDICT r12 #1) — so the default
    everywhere else is NO fan-out. Callers must apply it AFTER any
    ``input_file_name()`` capture (lineage) — rows detached from their
    file by the exchange read as ''."""
    p = str(path)
    if "://" in p:
        return df  # remote path: cannot stat cheaply; production-sized anyway
    try:
        fp = Path(p)
        if fp.is_dir():
            total = sum(f.stat().st_size for f in fp.rglob("*") if f.is_file())
        else:
            total = fp.stat().st_size
    except OSError:
        return df
    if total < _FANOUT_MIN_BYTES:
        return df
    try:
        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except (TypeError, ValueError):
        max_pb = 128 * 1024 * 1024
    cores = spark.sparkContext.defaultParallelism
    if total // max_pb + 1 >= cores:
        return df
    # Width = the session's core count, NOT bytes/64k: every remaining
    # caller is a compute-dense consumer (shingle+128-hash MinHash,
    # Levenshtein verify, vector math), where per-task cost is CPU per
    # row, not scan bytes — the byte-derived width left dedup_clusters'
    # 12 s-CPU shingle stage on 9 tasks with 23 cores idle. Scales with
    # $SPARK_GRAFT_CPUS via defaultParallelism (the driver's lower-core
    # bench keeps its own width), and production-sized inputs never
    # reach here (the maxPartitionBytes gate above).
    #
    # Hash-partition on a deterministic key, NOT round-robin: a keyless
    # repartition(n) first locally SORTS its input
    # (spark.sql.execution.sortBeforeRepartition, needed so retried
    # tasks reproduce the row→partition map — guide §2.5), and on a
    # one-partition scan that is a full sort of the table serialized on
    # one core. The key is the FIRST SCALAR column (doc_id/vec_id/...):
    # hashing string/array payload columns (doc text, embedding vectors)
    # per row just to pick a partition is wasted CPU, and an id column
    # alone spreads uniformly under xxhash64. Boolean and date columns
    # are not keys: a flag hashes into 2 buckets and a load date into a
    # handful, leaving most of the ``cores`` partitions empty. Tables
    # with no such scalar column hash their first non-map columns; an
    # all-map table falls back to round-robin.
    parts = cores
    scalar = [
        c for c, t in df.dtypes
        if t in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or t.startswith(("decimal", "timestamp"))
    ]
    if scalar:
        return df.repartition(parts, F.xxhash64(F.col(scalar[0])))
    hashable = [
        F.col(c) for c, t in df.dtypes if not t.startswith("map<")
    ][:3]
    if not hashable:
        return df.repartition(parts)
    return df.repartition(parts, F.xxhash64(*hashable))


_FANOUT_MIN_BYTES = 64 * 1024


def _parquet_has_nanos(path: str) -> bool | None:
    """Footer-only probe: does this parquet file/dataset contain
    TIMESTAMP(NANOS) columns? None = can't tell cheaply (remote path,
    unreadable footer)."""
    try:
        from itertools import islice

        import pyarrow as pa
        import pyarrow.parquet as pq

        p = Path(path)
        if not p.exists():
            return None
        if p.is_file():
            files, exhaustive = [p], True
        else:
            # sample several footers, not just the first: a mixed
            # dataset (one µs part, one pandas-written ns part) must not
            # lose the conf to filesystem listing order. False only when
            # we saw EVERY file; a partial clean sample returns None
            # (caller treats None as "set the conf" — the safe side).
            sample = list(islice(p.rglob("*.parquet"), 9))
            if not sample:
                return None
            files, exhaustive = sample[:8], len(sample) <= 8
        for f in files:
            schema = pq.read_schema(str(f))
            if any(
                pa.types.is_timestamp(t) and t.unit == "ns" for t in schema.types
            ):
                return True
        return False if exhaustive else None
    except Exception:  # noqa: BLE001 — probe is best-effort
        return None


def read_file_table(
    spark: SparkSession,
    conn: FilesConnectorSpec,
    table: str,
    schema: str | None = None,
) -> DataFrame:
    path = table_path(conn, table, schema)
    if conn.format == "parquet" and _parquet_has_nanos(path) is not False:
        # Parquet TIMESTAMP(NANOS) columns (pandas-written event data) are
        # rejected by Spark's reader unless read as raw ns longs. Set the
        # legacy conf at runtime (it is a SQL conf, not a session-build
        # conf) so reads work under ANY caller-provided SparkSession.
        # The conf is consulted again at EXECUTION time (it is stamped
        # into the scan's hadoop conf per action), so it cannot be
        # save/restored around this call — instead the footer probe above
        # limits the session-wide effect to datasets that actually carry
        # ns timestamps (plus unprobeable remote paths).
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            logger.info(
                "table %r has TIMESTAMP(NANOS) columns — setting session conf "
                "spark.sql.legacy.parquet.nanosAsLong=true (ns columns read "
                "as raw longs session-wide)",
                table,
            )
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if conn.format == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    if conn.format in ("csv", "json"):
        # malformed-record policy (spec.on_corrupt): Spark's reader
        # modes map 1:1 — FAILFAST raises on the first bad row,
        # DROPMALFORMED skips, PERMISSIVE nulls the row's fields and
        # keeps the raw text in _corrupt_record (add the column to the
        # schema downstream to quarantine it)
        reader = reader.option("mode", conn.on_corrupt.upper())
        if conn.on_corrupt == "permissive":
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
    return reader.format(conn.format).load(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Multimodal ingestion: read a directory of raw media files
    (images/audio/video/any bytes) as Spark's built-in ``binaryFile``
    source → ``(path, modificationTime, length, content binary)``.

    This is the entry edge of the multimodal pipeline
    (``operators/multimodal.py``): ``read_binary_dir`` → metadata
    struct → Arrow-batched decode. Pushdown note: ``pathGlobFilter``
    prunes at FILE LISTING time (never opens non-matching files) and
    ``length`` comes from the filesystem stat — so "jpegs under 5 MB"
    costs a listing, not a read. At 100 TB keep per-file sizes sane
    (the whole file is one row) and let partitioning follow file count;
    for many tiny files prefer a packed format upstream.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
