"""Dataset maintenance: small-file compaction.

At 100 TB the silent killer isn't a slow operator — it's a table that
has accreted millions of kilobyte files (streaming micro-batches,
per-task partitioned writes, incremental appends). Every downstream
scan then pays file-open and footer-read costs that dwarf the data
read, and the driver burns minutes listing. Compaction rewrites a
dataset into files near a target size and is the standard periodic
chore (Delta/Iceberg `OPTIMIZE` — here for plain directories).

The reference engine (Dims24/orion-etl-oracle-to-postgres) writes to
Postgres and has no file layout concern; this is [EXT] engine surface
for the file-backed side (SURVEY.md §2.11).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for ``path`` — works for file://, hdfs://,
    s3a://... (the same resolution Spark's own writers use)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (recursive, data files only)."""
    fs, jpath = _fs_and_path(spark, path)
    summary = fs.getContentSummary(jpath)
    return int(summary.getLength())


def swap_dataset(spark: SparkSession, path: str, tmp: str) -> None:
    """Replace the dataset at ``path`` with the one at ``tmp`` via two
    renames (move aside, move in, delete old) with rollback — the
    original survives any failure before the final rename pair.
    ``tmp`` must be on the same filesystem as ``path``."""
    fs, jpath = _fs_and_path(spark, path)
    jvm = spark.sparkContext._jvm
    old = path.rstrip("/") + ".__old"
    jold = jvm.org.apache.hadoop.fs.Path(old)
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(jold):
        fs.delete(jold, True)
    if not fs.rename(jpath, jold):
        raise IOError(f"swap failed: could not move {path} aside")
    if not fs.rename(jtmp, jpath):
        fs.rename(jold, jpath)  # roll back so the dataset is never missing
        raise IOError(f"swap failed: could not move {tmp} into place")
    fs.delete(jold, True)


def compact_dataset(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite the dataset at ``path`` into ~``target_file_mb`` files.
    A csv dataset is read AND rewritten with its header row (without
    it the header would be ingested as data and written back
    headerless); its columns stay text, so the rewrite copies the csv
    values unchanged.

    Output file count = ceil(current total bytes / target) — computed
    from the actual layout, not guessed. ``partition_by`` preserves a
    hive-style layout (each partition directory is compacted, files
    stay partition-pure); ``sort_by`` re-clusters rows within output
    files for row-group pruning. The rewrite goes to ``<path>.__compact``
    first, then swaps via two renames — crash-safe in the sense that
    the original survives any failure before the final rename pair
    (re-run to finish); readers racing the swap should be scheduled
    around it, same as any non-transactional table format.

    Returns ``{"bytes": ..., "files_before": ..., "files_out": ...}``.
    """
    if target_file_mb <= 0:
        raise ValueError(f"target_file_mb must be positive, got {target_file_mb}")
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)

    options = {"header": "true"} if fmt == "csv" else {}
    total = dataset_bytes(spark, path)
    df = spark.read.format(fmt).options(**options).load(path)
    files_before = len(df.inputFiles())
    n_out = max(1, -(-total // (target_file_mb * 1024 * 1024)))

    if partition_by:
        # partition-pure files: shuffle on the partition columns so each
        # output task holds whole partition values (same rule as
        # sinks/files.py); n_out caps the per-value file explosion
        staged = df.repartition(int(n_out), *[F.col(c) for c in partition_by])
    elif sort_by:
        # range partition on the sort key: globally ordered file runs
        staged = df.repartitionByRange(int(n_out), *[F.col(c) for c in sort_by])
    else:
        staged = df.coalesce(int(n_out))
    if sort_by:
        staged = staged.sortWithinPartitions(*sort_by)

    tmp = path.rstrip("/") + ".__compact"
    writer = staged.write.mode("overwrite").format(fmt).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(tmp)

    files_out = len(
        spark.read.format(fmt).options(**options).load(tmp).inputFiles()
    )
    swap_dataset(spark, path, tmp)
    logger.info(
        "compacted %s: %d files -> %d (%.1f MiB total)",
        path, files_before, files_out, total / 1048576,
    )
    return {"bytes": total, "files_before": files_before, "files_out": files_out}


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    *,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """MERGE for plain file datasets: rows at ``path`` whose key matches
    an update row are replaced, new keys are inserted — the upsert that
    transactional formats spell ``MERGE INTO``, built from an anti-join
    plus a rewrite.

    Scale shape: with ``partition_by`` (the dataset's hive layout), only
    the partitions that CONTAIN updates are read and rewritten — the
    update's distinct partition values (collected; updates are the
    small side by assumption) prune the target scan, untouched
    partition directories are never opened, and the per-partition swap
    is a directory rename. Without ``partition_by`` the whole dataset
    rewrites through the same staging+swap as ``compact_dataset`` —
    correct, but full-scan; partition a 100 TB target.

    Duplicate keys WITHIN ``updates`` are an error (last-writer wins is
    nondeterministic under shuffles — pre-aggregate instead).

    Partition-move safety (ADVICE r3): when ``partition_by`` is NOT a
    subset of ``key_cols``, an update row can carry a different
    partition value than the stored row with the same key — pruning the
    rewrite to the updates' partition values alone would leave that
    stale copy unread and undeleted (duplicate keys after the merge).
    In that case the affected-partition set is widened with the keys'
    CURRENT partitions, found by a key semi-join over a column-pruned
    scan of (key, partition) columns only — footer-cheap on parquet;
    when ``partition_by ⊆ key_cols`` a key can never move and the scan
    is skipped.
    Returns ``{"updated_partitions": n or None, "upserts": n_rows}``.
    """
    target = spark.read.format(fmt).load(path)
    if set(target.columns) != set(updates.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(target.columns)} vs "
            f"updates {sorted(updates.columns)}"
        )
    dup = (
        updates.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError("updates contain duplicate keys — pre-aggregate first")
    n_up = updates.count()

    if partition_by:
        pvals = {
            tuple(r[c] for c in partition_by)
            for r in updates.select(*partition_by).distinct().collect()
        }
        old_home_dirs: list[str] = []
        if not set(partition_by) <= set(key_cols):
            # keys can move partitions — include their current homes,
            # capturing the REAL directory paths (via input_file_name)
            # so a home that empties out can be deleted after the swap
            # without ever re-formatting "col=value" names
            cur = (
                # input_file_name() is only defined while rows are still
                # attached to their scan — project it BEFORE the join
                target.select(
                    *key_cols, *partition_by, F.input_file_name().alias("__f")
                )
                .join(updates.select(*key_cols).distinct(), key_cols, "left_semi")
                .select(*partition_by, "__f")
                .distinct()
                .collect()
            )
            pvals |= {tuple(r[c] for c in partition_by) for r in cur}
            old_home_dirs = sorted({r["__f"].rsplit("/", 1)[0] for r in cur})
        pvals = sorted(
            pvals, key=lambda t: tuple((v is None, v) for v in t)
        )
        cond = None
        for vals in pvals:
            # eqNullSafe: a null partition value must still match its rows
            eq = F.lit(True)
            for c, v in zip(partition_by, vals):
                eq = eq & F.col(c).eqNullSafe(F.lit(v))
            cond = eq if cond is None else (cond | eq)
        affected = target.filter(cond)  # partition-pruned scan
        merged = affected.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        ).unionByName(updates)
        tmp = path.rstrip("/") + ".__merge"
        (
            merged.repartition(*[F.col(c) for c in partition_by])
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .format(fmt)
            .save(tmp)
        )
        # Swap the partition directories THE STAGING WRITE PRODUCED —
        # never reconstruct "col=value" names by formatting values
        # (Spark escapes specials and spells nulls
        # __HIVE_DEFAULT_PARTITION__; a formatted name that doesn't
        # match would silently skip the rename and drop the update).
        fs, _ = _fs_and_path(spark, path)
        jvm = spark.sparkContext._jvm
        moved = 0
        depth = len(partition_by)

        def _leaf_dirs(jdir, level):
            for st in fs.listStatus(jdir):
                if not st.isDirectory():
                    continue
                name = st.getPath().getName()
                if "=" not in name:
                    continue
                if level == depth - 1:
                    yield st.getPath()
                else:
                    yield from _leaf_dirs(st.getPath(), level + 1)

        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        tmp_uri_len = len(jtmp.toUri().getPath())
        moved_rels = set()
        for src in _leaf_dirs(jtmp, 0):
            rel = src.toUri().getPath()[tmp_uri_len:].lstrip("/")
            dst = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{rel}")
            parent = dst.getParent()
            if not fs.exists(parent):
                fs.mkdirs(parent)
            if fs.exists(dst):
                fs.delete(dst, True)
            if not fs.rename(src, dst):
                raise IOError(f"merge swap failed for partition {rel}")
            moved_rels.add(rel)
            moved += 1
        # An old home whose EVERY row moved away produces no staging
        # directory — the rename loop leaves its stale files behind, so
        # drop any captured home the swap didn't replace.
        jroot = jvm.org.apache.hadoop.fs.Path(path)
        root_uri_len = len(jroot.toUri().getPath())
        for d in old_home_dirs:
            jd = jvm.org.apache.hadoop.fs.Path(d)
            rel = jd.toUri().getPath()[root_uri_len:].lstrip("/")
            if rel not in moved_rels and fs.exists(jd):
                fs.delete(jd, True)
                moved += 1
        if moved == 0:
            fs.delete(jtmp, True)
            raise IOError(
                "merge produced no partition directories to swap — "
                "staging layout unexpected"
            )
        fs.delete(jtmp, True)
        return {"updated_partitions": moved, "upserts": n_up}

    merged = target.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    ).unionByName(updates)
    tmp = path.rstrip("/") + ".__merge"
    merged.write.mode("overwrite").format(fmt).save(tmp)
    swap_dataset(spark, path, tmp)
    return {"updated_partitions": None, "upserts": n_up}


def retention_delete(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str,
    keep_from: str,
    value_type: str = "string",
) -> dict:
    """TTL/retention enforcement for a hive-partitioned files dataset:
    drop every ``{partition_col}={value}`` directory whose value sorts
    BEFORE ``keep_from`` — pure directory removals, no data scan, no
    rewrite. The ops primitive behind "keep 90 days": at 100 TB the
    only affordable delete is one that never opens a file.

    ``value_type`` controls the comparison: ``string`` (lexicographic —
    correct for ISO dates, zero-padded ids), ``int``, or ``date``
    (ISO ``YYYY-MM-DD``, validated). Hive-encoded partition values are
    URL-decoded before comparison. A flat (non-partitioned) dataset is
    refused loudly — row-level retention needs a rewrite
    (``merge_upsert``/filter), which must be an explicit choice.

    Returns ``{"deleted": [values...], "kept": n_kept}``.
    """
    import datetime as _dt
    import urllib.parse

    if value_type not in ("string", "int", "date"):
        raise ValueError(f"value_type must be string|int|date, got {value_type!r}")

    def parse(v: str):
        if value_type == "int":
            return int(v)
        if value_type == "date":
            return _dt.date.fromisoformat(v)
        return v

    cutoff = parse(keep_from)
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
    prefix = f"{partition_col}="
    part_dirs = [
        st.getPath()
        for st in fs.listStatus(jpath)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    if not part_dirs:
        raise ValueError(
            f"{path} has no {prefix}* partition directories — retention_delete "
            "only drops whole partitions; filter+rewrite a flat dataset instead"
        )
    deleted, kept = [], 0
    for p in part_dirs:
        raw = urllib.parse.unquote(p.getName()[len(prefix):])
        if raw == "__HIVE_DEFAULT_PARTITION__":
            # Spark's NULL-value partition: unorderable against the
            # cutoff — always kept (dropping nulls must be an explicit
            # filter+rewrite decision, and crashing here would block
            # TTL for the whole table)
            kept += 1
            continue
        if parse(raw) < cutoff:
            fs.delete(p, True)
            deleted.append(raw)
        else:
            kept += 1
    return {"deleted": sorted(deleted), "kept": kept}


def small_file_report(
    spark: SparkSession,
    path: str,
    *,
    small_mb: float = 16.0,
) -> dict:
    """Layout-health report for a files target: data-file count, total /
    mean / median / min / max bytes, and how many files fall under the
    ``small_mb`` threshold — the number that says whether ``--compact``
    is worth running BEFORE rewriting anything (the small-file problem
    taxes every scan's task-scheduling and every driver's listing).
    Walks the Hadoop FileSystem recursively (hive partition dirs
    included), skips hidden/_metadata files — driver-side metadata only,
    no data read. Returns a plain dict (this is an ops probe, not a
    query)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
    sizes: list[int] = []
    base_uri = jpath.toUri().getPath()
    it = fs.listFiles(jpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        # hidden check on EVERY path component below the base, not just
        # the leaf: a killed write leaves _temporary/.../part-*.parquet
        # and counting that junk as data skews the compaction verdict
        rel = st.getPath().toUri().getPath()
        if rel.startswith(base_uri):
            rel = rel[len(base_uri):]
        parts = [seg for seg in rel.split("/") if seg]
        if any(seg.startswith("_") or seg.startswith(".") for seg in parts):
            continue
        sizes.append(int(st.getLen()))
    if not sizes:
        return {
            "n_files": 0, "total_bytes": 0, "mean_bytes": 0,
            "median_bytes": 0, "min_bytes": 0, "max_bytes": 0,
            "small_files": 0, "small_frac": 0.0,
        }
    sizes.sort()
    n = len(sizes)
    thr = int(small_mb * 1024 * 1024)
    small = sum(1 for x in sizes if x < thr)
    mid = (
        sizes[n // 2]
        if n % 2
        else (sizes[n // 2 - 1] + sizes[n // 2]) // 2
    )
    return {
        "n_files": n,
        "total_bytes": sum(sizes),
        "mean_bytes": sum(sizes) // n,
        "median_bytes": mid,
        "min_bytes": sizes[0],
        "max_bytes": sizes[-1],
        "small_files": small,
        "small_frac": round(small / n, 6),
    }
