"""Per-layer tracing for ``run.py --trace 1``.

The program carries no tracing code. Instead this module wraps the
public functions of each layer from outside (module attributes are
replaced for the life of the run), times the calls, counts what the
layer did, and sets the Spark job description to
``pb|<iteration>|<layer>`` inside each wrapper, so every Spark job in
the event log is attributed to the innermost layer whose call launched
it. ``event_log_stats`` then folds the event log's task metrics per
(iteration, layer).
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
from collections import defaultdict
from pathlib import Path

# Layers whose launched Spark jobs get the full stage/task/shuffle report.
STAT_LAYERS = ("compiler", "sources", "operators.dedup", "sinks")
STAT_FIELDS = (
    "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
TABLES = ("orders_pg", "fact_sales", "dim_customer", "docs_dedup")


def _tree_size(path: Path) -> tuple[int, int]:
    """(data files, bytes) under a written dataset directory."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.iteration = "setup"
        self.stack: list[tuple[str, str | None]] = []
        self.per_iter: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.jdbc_batchsize: dict[str, int] = {}
        self.last_pairs = None
        self.last_bands = None
        self._patches: list[tuple[object, str, object]] = []

    # -- attribution ---------------------------------------------------
    def _describe(self) -> None:
        layer = self.stack[-1][0] if self.stack else "bench"
        self.sc.setJobDescription(f"pb|{self.iteration}|{layer}")

    def begin(self, iteration: str) -> None:
        self.iteration = iteration
        self._describe()

    @property
    def cur(self) -> dict[str, float]:
        return self.per_iter[self.iteration]

    def call(self, layer: str, timer: str | None, fn, *a, **kw):
        # a timer counts only its outermost call (resolve_source → read_*)
        outer = timer is not None and all(t != timer for _, t in self.stack)
        self.stack.append((layer, timer))
        self._describe()
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            if outer:
                self.cur[timer] += time.perf_counter() - t0
            self.stack.pop()
            self._describe()

    def wrap(self, module, attr: str, layer: str, timer=None, after=None) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            name = timer(a, kw) if callable(timer) else timer
            out = self.call(layer, name, orig, *a, **kw)
            if after is not None:
                after(out, a, kw)
            return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # -- the layers ----------------------------------------------------
    def install(self) -> None:
        import orion_etl_oracle_to_postgres_spark.compiler as compiler
        import orion_etl_oracle_to_postgres_spark.operators.dedup as dedup
        import orion_etl_oracle_to_postgres_spark.operators.scd as scd
        import orion_etl_oracle_to_postgres_spark.sinks as sinks
        import orion_etl_oracle_to_postgres_spark.sinks.files as sinks_files
        import orion_etl_oracle_to_postgres_spark.sinks.jdbc as sinks_jdbc
        import orion_etl_oracle_to_postgres_spark.sinks.maintenance as maintenance
        import orion_etl_oracle_to_postgres_spark.sources as sources
        import orion_etl_oracle_to_postgres_spark.sources.files as sources_files
        import orion_etl_oracle_to_postgres_spark.sources.jdbc as sources_jdbc

        w = self.wrap
        w(compiler, "compile_table", "compiler", "compiler.compile_s")
        w(compiler, "run_table", "compiler",
          lambda a, kw: f"compiler.run_table_s.{a[1].target_table}")

        # sources: the compiler's scan and every dimension/target read
        def jdbc_parts(df, a, kw):
            self.cur["sources.jdbc.partitions"] += df.rdd.getNumPartitions()

        for mod in (compiler, sources):
            w(mod, "resolve_source", "sources", "sources.resolve_s")
        for mod in (sources, sources_files):
            w(mod, "read_file_table", "sources", "sources.resolve_s")
        for mod in (sources, sources_jdbc):
            w(mod, "read_jdbc_table", "sources", "sources.resolve_s", after=jdbc_parts)

        # operators
        w(compiler, "apply_transform_chain", "operators.transforms")
        w(compiler, "apply_validations", "operators.validations")
        w(compiler, "split_quarantine", "operators.validations")
        w(compiler, "external_lookup", "operators.lookups")
        for fn in ("scd2_apply", "scd2_initial"):
            w(scd, fn, "operators.scd")
        w(dedup, "minhash_near_dups", "operators.dedup", "operators.dedup.call_s",
          after=lambda df, a, kw: setattr(self, "last_pairs", df))
        w(dedup, "minhash_bands", "operators.dedup", "operators.dedup.call_s",
          after=lambda df, a, kw: setattr(self, "last_bands", df))
        w(dedup, "near_dup_clusters", "operators.dedup", "operators.dedup.call_s")

        # sinks
        def files_out(_, a, kw):
            conn, table = a[1], a[2]
            schema = a[3] if len(a) > 3 else kw.get("schema")
            base = Path(conn.base_path)
            n, size = _tree_size(base / schema / table if schema else base / table)
            self.cur["sinks.files.output_files"] += n
            self.cur["sinks.files.output_bytes"] += size

        def jdbc_batchsize(_, a, kw):
            self.jdbc_batchsize[self.iteration] = int(kw.get("batchsize", 1000))

        w(compiler, "resolve_sink", "sinks", "sinks.write_s")
        for mod in (sinks, sinks_files):
            w(mod, "write_file_table", "sinks.files", "sinks.write_s", after=files_out)
        for mod in (sinks, sinks_jdbc):
            w(mod, "write_jdbc_table", "sinks.jdbc", "sinks.write_s", after=jdbc_batchsize)
        w(maintenance, "swap_dataset", "sinks.files", "sinks.write_s")

    # -- counts that need an extra Spark job (run after the timed loop) --
    def probe_pairs(self) -> None:
        """Candidate and verified pair counts of the last dedup call."""
        if self.last_pairs is None:
            return
        from pyspark.sql import functions as F

        cur = self.per_iter[self.iteration]
        self.begin("probe")
        b = self.last_bands
        left, right = b.alias("l"), b.alias("r")
        cand = (
            left.join(
                right,
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.__id") < F.col("r.__id")),
            )
            .select(F.col("l.__id"), F.col("r.__id"))
            .distinct()
            .count()
        )
        cur["operators.dedup.candidate_pairs"] = cand
        cur["operators.dedup.verified_pairs"] = self.last_pairs.count()


def event_log_stats(log_dir: Path) -> dict[str, dict[str, float]]:
    """Task metrics per ``<iteration>|<layer>`` from Spark's event log,
    plus per iteration: ``|jobs`` (all jobs), ``|all`` (input rows and
    bytes over every task) and ``|jdbc_final`` (rows written by each
    JDBC insert task, under key ``rows``)."""
    job_label: dict[int, tuple[str, str]] = {}
    stage_job: dict[int, int] = {}
    job_stages: dict[int, list[int]] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    tasks: list[dict] = []
    completed_stages: set[int] = set()
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    parts = desc.split("|")
                    label = (parts[1], parts[2]) if len(parts) == 3 and parts[0] == "pb" else ("", "")
                    jid = ev["Job ID"]
                    job_label[jid] = label
                    job_stages[jid] = list(ev.get("Stage IDs", []))
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                    out[f"{label[0]}|jobs"]["count"] += 1
                    out[f"{label[0]}|{label[1]}"]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    completed_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for s in completed_stages:
        it, layer = job_label.get(stage_job.get(s, -1), ("", ""))
        out[f"{it}|{layer}"]["stages"] += 1
    # the last stage of each JDBC-write job is the one inserting rows; the
    # sink's broadcast-side jobs write nothing
    final_stage = {
        max(stages): jid
        for jid, stages in job_stages.items()
        if stages and job_label.get(jid, ("", ""))[1] == "sinks.jdbc"
    }
    written: dict[int, list[int]] = defaultdict(list)
    for ev in tasks:
        sid = ev["Stage ID"]
        it, layer = job_label.get(stage_job.get(sid, -1), ("", ""))
        m = ev.get("Task Metrics") or {}
        o = out[f"{it}|{layer}"]
        o["tasks"] += 1
        o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics") or {}
        tot = out[f"{it}|all"]
        tot["input_rows"] += inp.get("Records Read", 0)
        tot["input_bytes"] += inp.get("Bytes Read", 0)
        if sid in final_stage:
            written[sid].append((m.get("Output Metrics") or {}).get("Records Written", 0))
    for sid, rows in written.items():
        if any(rows):
            it = job_label[final_stage[sid]][0]
            out[f"{it}|jdbc_final"].setdefault("rows", []).extend(rows)
    return out


def per_layer_metrics(tracer: Tracer, log_dir: Path, timed: list[str], extra: dict[str, float]) -> dict[str, float]:
    """Median over the timed iterations of every per-layer counter."""
    ev = event_log_stats(log_dir)

    def med(fn) -> float:
        return statistics.median(fn(i) for i in timed) if timed else 0.0

    def layer_sum(it: str, layer: str, fld: str) -> float:
        return sum(
            v.get(fld, 0.0)
            for k, v in ev.items()
            if k.startswith(f"{it}|") and (k.split("|", 1)[1] == layer or k.split("|", 1)[1].startswith(layer + "."))
        )

    def jdbc_batches(it: str) -> float:
        bs = tracer.jdbc_batchsize.get(it, 1000)
        return sum(math.ceil(r / bs) for r in ev.get(f"{it}|jdbc_final", {}).get("rows", []))

    m = dict(extra)
    for key in (
        "compiler.compile_s", "sources.resolve_s", "sources.jdbc.partitions",
        "operators.dedup.call_s", "sinks.write_s",
        "sinks.files.output_bytes", "sinks.files.output_files",
    ):
        m[key] = med(lambda it: tracer.per_iter[it].get(key, 0.0))
    for t in TABLES:
        key = f"compiler.run_table_s.{t}"
        m[key] = med(lambda it: tracer.per_iter[it].get(key, 0.0))
    m["compiler.spark_jobs"] = med(lambda it: ev.get(f"{it}|jobs", {}).get("count", 0.0))
    m["operators.dedup.spark_jobs"] = med(lambda it: layer_sum(it, "operators.dedup", "jobs"))
    last = tracer.per_iter.get(timed[-1], {}) if timed else {}
    cand = last.get("operators.dedup.candidate_pairs", 0.0)
    m["operators.dedup.candidate_pairs"] = cand
    m["operators.dedup.verified_pairs"] = last.get("operators.dedup.verified_pairs", 0.0)
    m["operators.dedup.verified_share"] = m["operators.dedup.verified_pairs"] / cand if cand else 0.0
    m["sources.input_rows"] = med(lambda it: ev.get(f"{it}|all", {}).get("input_rows", 0.0))
    m["sources.input_bytes"] = med(lambda it: ev.get(f"{it}|all", {}).get("input_bytes", 0.0))
    m["sinks.jdbc.batches"] = med(jdbc_batches)
    m["sinks.jdbc.partitions"] = med(lambda it: len(ev.get(f"{it}|jdbc_final", {}).get("rows", [])))
    for layer in STAT_LAYERS:
        for fld in STAT_FIELDS:
            m[f"{layer}.{fld}"] = med(lambda it: layer_sum(it, layer, fld))
    return m
