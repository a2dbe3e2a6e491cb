"""[EXT] Dataset manifest — the machine-readable "dataset card" written
NEXT TO the data (``<path>/_manifest.json``, underscore-prefixed so
Spark's readers never see it as data, same convention as
``similarity.ivf_materialize``'s ``_centroids``).

Downstream consumers (training-data loaders, hand-off reviews, the
reconcile sign-off) get row counts, the exact schema, per-column null
counts, and the physical layout WITHOUT scanning the dataset — and a
stored manifest lets a later run detect drift cheaply: re-profile,
compare JSON.

Stats come from ONE wide aggregate scan (same shape as
``operators/profile.profile_table``); layout numbers come from the
file listing. The write goes through the Hadoop FileSystem API, so
hdfs:///s3a:// paths work the same as local ones.
"""

from __future__ import annotations

import json
import time
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .maintenance import _fs_and_path, dataset_bytes


def write_manifest(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    extra: Optional[dict] = None,
) -> dict:
    """Profile the dataset at ``path`` and write ``_manifest.json``
    beside it. Returns the manifest dict. ``extra`` merges caller
    metadata (job name, load id, git sha...) into the document. A csv
    dataset is read with its header row."""
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
    df = reader.load(path)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{i}")
        for i, c in enumerate(df.columns)
    ]
    row = df.agg(*aggs).collect()[0]
    manifest = {
        "written_at_unix": int(time.time()),
        "format": fmt,
        "n_rows": row["__n"],
        "n_files": len(df.inputFiles()),
        "total_bytes": dataset_bytes(spark, path),
        "schema": [
            {"name": c, "type": t, "n_nulls": row[f"__nulls_{i}"]}
            for i, (c, t) in enumerate(df.dtypes)
        ],
    }
    if extra:
        manifest.update(extra)

    fs, jpath = _fs_and_path(spark, path)
    jvm = spark.sparkContext._jvm
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/_manifest.json"), True
    )
    try:
        out.write(bytearray(json.dumps(manifest, indent=2).encode("utf-8")))
    finally:
        out.close()
    return manifest


def read_manifest(spark: SparkSession, path: str) -> dict:
    """Load ``_manifest.json`` written by ``write_manifest``."""
    fs, _ = _fs_and_path(spark, path)
    jvm = spark.sparkContext._jvm
    jfile = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/_manifest.json")
    stream = fs.open(jfile)
    try:
        data = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))
