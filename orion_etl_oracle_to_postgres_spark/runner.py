"""CLI entry point — mirrors ``/root/reference/cli.py``.

Usage::

    python -m orion_etl_oracle_to_postgres_spark.runner --config config/config.yaml

Steps (reference ``cli.py:34-70``): logging setup → config load →
connectivity smoke check → run. The per-table banner logging replaces the
reference's ``logger.header`` monkey-patch (``logger.py:92-103``).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

from .compiler import JobContext, run_job
from .session import get_spark
from .spec import load_job_spec

logger = logging.getLogger(__name__)


def setup_logging(
    level: str = "INFO",
    log_file: str | None = None,
    file_level: str = "ERROR",
) -> None:
    handlers: list[logging.Handler] = [logging.StreamHandler(sys.stderr)]
    if log_file:
        os.makedirs(os.path.dirname(log_file) or ".", exist_ok=True)
        fh = logging.FileHandler(log_file)
        fh.setLevel(getattr(logging, file_level.upper(), logging.ERROR))
        handlers.append(fh)
    logging.basicConfig(
        level=getattr(logging, level.upper(), logging.INFO),
        format="%(asctime)s %(levelname)s %(name)s — %(message)s",
        handlers=handlers,
        force=True,
    )


def smoke_check(spark, job) -> None:
    """Connectivity check ≈ reference ``cli.py:13-31``: touch each
    configured connector once before compiling anything, so a bad
    URL/credential fails at startup, not mid-pipeline after some tables
    already loaded."""
    conns = job.global_spec.connectors
    if conns.source_files is not None:
        if not os.path.isdir(conns.source_files.base_path):
            raise FileNotFoundError(
                f"source base_path missing: {conns.source_files.base_path}"
            )
    # JDBC connectors: one-row SELECT 1 through the reader's query
    # option — the same path (driver jar, URL, credentials) every later
    # read/write uses, matching the reference's open/close ping.
    if conns.oracle is not None:
        _jdbc_ping(spark, conns.oracle, "SELECT 1 FROM DUAL", "oracle")
    if conns.postgres is not None:
        _jdbc_ping(spark, conns.postgres, "SELECT 1", "postgres")
    if conns.source_jdbc is not None:
        _jdbc_ping(spark, conns.source_jdbc, conns.source_jdbc.ping_sql, "source_jdbc")
    if conns.target_jdbc is not None:
        _jdbc_ping(spark, conns.target_jdbc, conns.target_jdbc.ping_sql, "target_jdbc")


def _jdbc_ping(spark, conn, sql: str, label: str) -> None:
    from .sources.jdbc import jdbc_options

    try:
        (
            spark.read.format("jdbc")
            .options(**jdbc_options(conn, table="_ping", query=sql))
            .load()
            .collect()
        )
    except Exception as e:
        raise RuntimeError(
            f"JDBC connectivity check failed for {label} connector "
            f"({conn.jdbc_url}): {e}"
        ) from e


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="PySpark ETL engine")
    parser.add_argument("--config", "-c", default=None, help="main YAML config path")
    parser.add_argument("--master", default=None, help="Spark master override")
    parser.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of tables to run (matched against "
        "target then source table name) — re-run one failed table "
        "without replaying the whole job",
    )
    parser.add_argument(
        "--compact",
        default=None,
        metavar="TABLE",
        help="maintenance: OPTIMIZE-style small-file compaction of a "
        "files-target table (sinks/maintenance.compact_dataset), then exit",
    )
    parser.add_argument(
        "--target-file-mb",
        type=int,
        default=128,
        help="target output file size for --compact (default 128)",
    )
    parser.add_argument(
        "--profile",
        default=None,
        metavar="TABLE",
        help="print the one-scan column profile of a source/target table "
        "(operators/profile.profile_table), then exit",
    )
    parser.add_argument(
        "--retention",
        default=None,
        metavar="TABLE",
        help="maintenance: drop TABLE's partition directories older than "
        "--keep-from (sinks/maintenance.retention_delete), then exit",
    )
    parser.add_argument(
        "--keep-from",
        default=None,
        help="--retention cutoff value (partitions sorting before it drop)",
    )
    parser.add_argument(
        "--retention-type",
        default="string",
        choices=("string", "int", "date"),
        help="--retention value ordering (default string/lexicographic)",
    )
    parser.add_argument(
        "--reconcile",
        default=None,
        metavar="TABLE",
        help="migration sign-off: recompile TABLE's pipeline frame, "
        "diff it against the loaded target on --keys "
        "(operators/reconcile.snapshot_diff), print the "
        "added/removed/changed/same summary, then exit nonzero if the "
        "target diverges",
    )
    parser.add_argument(
        "--keys",
        default=None,
        help="comma-separated key columns for --reconcile (defaults to "
        "the table's dedup id_column when configured)",
    )
    parser.add_argument(
        "--checksum",
        default=None,
        metavar="TABLE",
        help="cheap migration sign-off: bucketed checksum of the "
        "recompiled pipeline frame vs the loaded target "
        "(operators/reconcile.table_checksum) over the exactly-"
        "stringifiable shared columns; prints per-bucket agreement, "
        "exits nonzero on divergence. O(1) output — use --reconcile "
        "to see WHICH rows differ",
    )
    parser.add_argument(
        "--diff",
        default=None,
        metavar="TABLE",
        help="checksum drill-down: compare the recompiled pipeline frame "
        "vs the loaded target by bucket checksums, then row-diff ONLY "
        "the mismatched buckets (operators/reconcile.checksum_drilldown) "
        "— prints the differing row values with per-side counts, exits "
        "nonzero on divergence. Sits between --checksum (O(1) output, "
        "no rows) and --reconcile (key-matched row diff): keyless, and "
        "re-scans ~1/64 of each side when the diff is sparse",
    )
    parser.add_argument(
        "--drift",
        default=None,
        metavar="TABLE",
        help="statistical sign-off: recompile TABLE's pipeline frame and "
        "compare the distribution of each --columns numeric column "
        "against the loaded target (PSI over quantile bins + "
        "Jensen-Shannon over equal-width bins); prints one line per "
        "column, exits nonzero when any PSI exceeds --psi-threshold. "
        "The complement of --reconcile/--checksum: rows can all differ "
        "legitimately (re-derived surrogate keys) while the "
        "distributions must still match",
    )
    parser.add_argument(
        "--columns",
        default=None,
        help="comma-separated numeric columns for --drift",
    )
    parser.add_argument(
        "--psi-threshold",
        type=float,
        default=0.25,
        help="--drift failure bar (default 0.25, the standard "
        "'population shifted' PSI rule of thumb)",
    )
    parser.add_argument(
        "--lineage",
        action="store_true",
        help="print the static column-lineage report (target column <- "
        "source column + transforms/lookups/validations) for every table "
        "in the job, from the spec alone — nothing executes",
    )
    parser.add_argument(
        "--layout",
        metavar="TABLE",
        default=None,
        help="print the small-file layout-health report for a files "
        "target (file count/sizes, small-file share) — decides whether "
        "--compact is worth running; reads metadata only",
    )
    parser.add_argument(
        "--expect",
        metavar="TABLE",
        default=None,
        help="compile TABLE's pipeline and run its declared expectations "
        "as a standalone report (no write) — the data-contract dry run; "
        "exit 1 if any check fails",
    )
    parser.add_argument(
        "--explain",
        action="store_true",
        help="compile every table and print its optimized physical plan "
        "WITHOUT executing or writing anything (plan review before a "
        "large run: check pushed filters, pruned schemas, join strategies)",
    )
    parser.add_argument(
        "--freqcap",
        metavar="TABLE",
        default=None,
        help="print TABLE's streaming frequency-cap report (per drained "
        "micro-batch: rows, distinct keys, over/under-cap counts) plus "
        "the folded state's distinct-cell summary — the read side of a "
        "`frequency_cap:` block; exit 1 if the table has none",
    )
    parser.add_argument(
        "--sightings",
        metavar="TABLE",
        default=None,
        help="print TABLE's streaming first-sighting report (per drained "
        "micro-batch: rows, definite-new, maybe-seen counts) — the read "
        "side of a `first_sighting:` block; exit 1 if the table has none",
    )
    parser.add_argument(
        "--budget",
        metavar="TABLE",
        default=None,
        help="print TABLE's per-group admitted-token totals vs the "
        "declared budget (open/closed per group) plus the per-drain "
        "report — the read side of a `token_budget:` block; exit 1 if "
        "the table has none",
    )
    parser.add_argument(
        "--panel",
        metavar="TABLE",
        default=None,
        help="print TABLE's current uniform eval panel (fold of the "
        "per-drain bottom-k id samples; rank <= j is the uniform "
        "j-panel) — the read side of a `sample_panel:` block; exit 1 "
        "if the table has none",
    )
    parser.add_argument(
        "--overlap",
        metavar="STATE_PATH_OR_TABLE",
        default=None,
        help="print the all-pairs segment-overlap / containment matrix "
        "of a persisted KMV state (parquet written by build_kmv_state, "
        "a kmv_increment_writer stream, or — when given a job table "
        "name — that table's state: {kind: kmv} nightly increments): "
        "union / intersection / "
        "Jaccard / both containment directions per overlapping group "
        "pair, computed entirely in sketch space (kmv_overlap_pairs). "
        "Pairs below --jaccard-floor are suppressed; a floor > 0 turns "
        "the verb into a disjointness sign-off (exit 1 when any pair "
        "clears it)",
    )
    parser.add_argument(
        "--state",
        metavar="TABLE",
        default=None,
        help="print TABLE's folded lifetime mergeable-aggregate state "
        "(fold of every nightly increment, layout-validated) finalized "
        "per kind: distinct estimates (kmv), the uniform panel "
        "(sample), moments (stats), quantiles (hist), filter "
        "saturation (bloom), sketch totals (cms) — the read side of a "
        "`state:` block; exit 1 if the table has none",
    )
    parser.add_argument(
        "--jaccard-floor",
        type=float,
        default=0.0,
        metavar="F",
        help="with --overlap: only print pairs with estimated Jaccard "
        ">= F (0..1, default 0 = print every overlapping pair); F > 0 "
        "also flips the exit code to 1 when any pair clears the floor",
    )
    parser.add_argument(
        "--out",
        metavar="PATH",
        default=None,
        help="with --panel or --state: ALSO write the report frame(s) "
        "as parquet under PATH (overwrite) — materialize the eval "
        "panel / folded state as a dataset instead of copying console "
        "output; a multi-block --state writes each block to "
        "PATH/<kind>_<value_column>",
    )
    args = parser.parse_args(argv)
    if args.out and not (args.panel or args.state):
        raise SystemExit("--out only applies to --panel or --state")
    if not 0.0 <= args.jaccard_floor <= 1.0:
        raise SystemExit(
            f"--jaccard-floor must be in [0, 1], got {args.jaccard_floor}"
        )

    job = load_job_spec(args.config)
    if args.tables:
        wanted = {t.strip() for t in args.tables.split(",") if t.strip()}
        picked = [
            t for t in job.tables
            if t.target_table in wanted or t.source_table in wanted
        ]
        matched = {t.target_table for t in picked} | {t.source_table for t in picked}
        unknown = wanted - matched
        if unknown:
            raise SystemExit(
                f"--tables: {sorted(unknown)} match no configured table "
                f"(targets: {[t.target_table for t in job.tables]})"
            )
        job = job.model_copy(update={"tables": picked})
    log_cfg = job.global_spec.logging
    setup_logging(
        level=log_cfg.console_level if log_cfg else "INFO",
        log_file=log_cfg.log_file if log_cfg else None,
        file_level=log_cfg.file_level if log_cfg else "ERROR",
    )

    # job-spec conf overrides (GlobalSpec.spark_conf) layer over engine
    # defaults; runtime SQL confs also apply to an already-built session
    # (getOrCreate may return one) via spark.conf.set below
    # --lineage is a pure spec report: print BEFORE booting any
    # SparkSession so the verb is instant ('nothing executes')
    if args.lineage:
        # static report straight from the spec — the audit answer to
        # "where does this column come from?" without touching any source
        for t in job.tables:
            print(f"== {t.source_table} -> {t.target_table} ==")
            if not t.mappings:
                print("  (auto 1:1 mapping against the target catalog)")
            for m in t.mappings or []:
                tgt = m.target or m.source  # spec allows omitted target
                parts = [f"  {tgt:<24} <- {m.source}"]
                if m.transform:
                    parts.append(f"transform: {','.join(m.transform)}")
                if m.plugin:
                    parts.append(f"plugin: {m.plugin}")
                if m.lookup is not None:
                    parts.append(
                        f"lookup: {m.lookup.table}.{m.lookup.value_column} "
                        f"on {m.lookup.key_column}"
                    )
                for v in m.validation or []:
                    parts.append(f"validate: {v.type} on_fail={v.on_fail}")
                print("  |  ".join(parts))
            extras = []
            if t.rewrite is not None:
                extras.append(
                    f"rewrite: {t.rewrite.method} on {t.rewrite.text_column}"
                )
            if t.decontaminate is not None:
                dc = t.decontaminate
                extras.append(
                    f"decontaminate: {dc.ngram}-grams vs {dc.benchmark_table}"
                )
            if t.quality_filter is not None:
                qf = t.quality_filter
                policy = (
                    f"top_fraction={qf.top_fraction}"
                    if qf.top_fraction is not None
                    else f"min_quality={qf.min_quality}"
                )
                extras.append(f"quality gate: {qf.method} {policy}")
            if t.dedup is not None:
                extras.append(f"dedup: {t.dedup.method}")
            if t.sample is not None:
                extras.append(f"sample: {t.sample.method}")
            if t.split is not None:
                label = "k-fold" if t.split.folds is not None else "split"
                extras.append(f"{label} -> column {t.split.column_name!r}")
            if t.expectations:
                extras.append(
                    "expectations: "
                    + ",".join(e.type for e in t.expectations)
                )
            if t.scd2 is not None:
                extras.append("scd2 merge")
            if t.augment is not None:
                au = t.augment
                extras.append(
                    f"augment: {au.method} -> columns "
                    f"{au.input_column!r}/{au.target_column!r}"
                )
            if t.lineage:
                extras.append("row lineage columns (_source_file, _load_id)")
            if extras:
                print("  stages: " + "; ".join(extras))
        return 0


    spark = get_spark(master=args.master, extra_conf=job.global_spec.spark_conf)
    for k, v in job.global_spec.spark_conf.items():
        try:
            spark.conf.set(k, str(v))
        except Exception:  # noqa: BLE001 — static confs can't be set post-build
            logger.warning("spark_conf %r is static — set it before session build", k)

    def _files_target(table: str, verb: str) -> tuple[str, str]:
        from .sinks import files_target

        try:
            return files_target(job.global_spec.connectors, table, verb)
        except ValueError as e:
            raise SystemExit(str(e)) from None

    if args.compact:
        from .sinks.maintenance import compact_dataset

        path, fmt = _files_target(args.compact, "--compact")
        # honor the table's CONFIGURED layout: compacting a
        # hive-partitioned table flat (or a sorted table unsorted)
        # would destroy the layout the job spec promises
        tspec = next(
            (t for t in job.tables if t.target_table == args.compact), None
        )
        stats = compact_dataset(
            spark, path,
            target_file_mb=args.target_file_mb,
            fmt=fmt,
            partition_by=tspec.partition_by if tspec else None,
            sort_by=tspec.sort_by if tspec else None,
        )
        logger.info("compacted %s: %s", args.compact, stats)
        return 0

    if args.retention:
        from .sinks.maintenance import retention_delete

        path, _ = _files_target(args.retention, "--retention")
        tspec = next(
            (t for t in job.tables if t.target_table == args.retention), None
        )
        if tspec is None or not tspec.partition_by:
            raise SystemExit(
                f"--retention: table {args.retention!r} not found or has no "
                "partition_by in its spec (whole-partition TTL needs a hive layout)"
            )
        if not args.keep_from:
            raise SystemExit("--retention needs --keep-from <cutoff>")
        stats = retention_delete(
            spark,
            path,
            partition_col=tspec.partition_by[0],
            keep_from=args.keep_from,
            value_type=args.retention_type,
        )
        logger.info("retention %s: %s", args.retention, stats)
        print(f"deleted: {len(stats['deleted'])} kept: {stats['kept']}")
        return 0

    def _resolve_full_spec(name: str, verb: str):
        """Find the named table and strip its incremental stage: both
        sign-off verbs compare the FULL recomputed pipeline frame
        against the full target (an incremental frame holds only rows
        above the committed high-water mark — or a streaming scan —
        and every loaded row would read as diff)."""
        tspec = next(
            (
                t for t in job.tables
                if t.target_table == name or t.source_table == name
            ),
            None,
        )
        if tspec is None:
            raise SystemExit(f"{verb}: no table {name!r} in the job")
        full = (
            tspec.model_copy(update={"incremental": None})
            if tspec.incremental is not None
            else tspec
        )
        return tspec, full

    def _read_monitor(reader, path: str, verb: str, block: str):
        """Read a monitor artifact with a friendly empty-state error:
        before the first drain the state/report directory does not
        exist, and the raw PATH_NOT_FOUND AnalysisException reads like
        an engine bug rather than 'nothing has run yet'."""
        from pyspark.errors import AnalysisException

        try:
            return reader(path)
        except (AnalysisException, FileNotFoundError) as exc:
            raise SystemExit(
                f"{verb}: no drained batches recorded yet at {path!r} — "
                f"run the job at least once so the {block} block writes "
                f"its first increment"
            ) from exc

    def _exact_shared_cols(expected, actual, verb: str) -> list:
        """The hashing-verb column contract, in ONE place so --checksum
        and --diff can never drift: only exactly-stringifiable types
        participate (float formatting is path-dependent), intersected
        CASE-INSENSITIVELY like Spark's own resolution (a Derby/Oracle
        target folds names to uppercase)."""
        exact = {
            "string", "int", "bigint", "smallint", "tinyint", "boolean",
            "date",
        }
        actual_lower = {c.lower() for c in actual.columns}
        cols = sorted(
            c
            for c, t in expected.dtypes
            if t in exact and c.lower() in actual_lower
        )
        if not cols:
            raise SystemExit(
                f"{verb}: no exactly-stringifiable shared columns"
            )
        return cols

    if args.drift:
        from pyspark.sql import functions as F

        from .compiler import compile_table
        from .operators.reconcile import (
            distribution_drift,
            js_divergence,
            quantile_drift,
        )

        tspec, full_spec = _resolve_full_spec(args.drift, "--drift")
        cols = [c.strip() for c in (args.columns or "").split(",") if c.strip()]
        if not cols:
            raise SystemExit("--drift needs --columns c1[,c2,...]")
        ctx = JobContext(spark, job.global_spec)
        expected = compile_table(ctx, full_spec).df
        actual = ctx._read_target(tspec.target_table, tspec.target_schema)
        missing = [
            c
            for c in cols
            if c not in expected.columns or c not in actual.columns
        ]
        if missing:
            raise SystemExit(
                f"--drift: column(s) {missing} not present on both sides"
            )
        n_bad = 0
        for c in cols:
            psi = (
                distribution_drift(expected, actual, c)
                .agg(F.round(F.sum("psi_term"), 6).alias("psi"))
                .collect()[0]
                .psi
            )
            jsd = js_divergence(expected, actual, c).collect()[0].js_divergence
            # order-statistics view of the same column: p50/p99 diffs +
            # the L∞ bucket distance (histogram-state powered). Bounds
            # come from both sides so the shared layout covers them —
            # two tiny aggregates, the same probe class as the PSI bins.
            ext = expected.select(F.col(c)).unionByName(actual.select(F.col(c)))
            b = ext.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
            qtxt = ""
            if b["lo"] is not None:
                lo = float(b["lo"])
                hi = float(b["hi"])
                hi = hi if hi > lo else lo + 1.0
                qrow = quantile_drift(
                    expected.select(F.lit(1).alias("__g"), F.col(c)),
                    actual.select(F.lit(1).alias("__g"), F.col(c)),
                    c,
                    ["__g"],
                    lo=lo,
                    hi=hi,
                    qs=(0.5, 0.99),
                ).collect()[0]
                qtxt = (
                    f"  p50d={qrow['q_0_5_diff']}  "
                    f"p99d={qrow['q_0_99_diff']}  linf={qrow['linf']}"
                )
            flag = psi is not None and psi > args.psi_threshold
            n_bad += int(bool(flag))
            print(
                f"{'DRIFT' if flag else 'OK   '}  {c}  psi={psi}  jsd={jsd}"
                + qtxt
            )
        print(
            f"drift: {len(cols) - n_bad}/{len(cols)} columns within "
            f"psi<={args.psi_threshold}"
        )
        return 1 if n_bad else 0

    if args.reconcile:
        from .compiler import compile_table
        from .operators.reconcile import diff_summary, snapshot_diff

        tspec, full_spec = _resolve_full_spec(args.reconcile, "--reconcile")
        keys = (
            [k.strip() for k in args.keys.split(",") if k.strip()]
            if args.keys
            else ([tspec.dedup.id_column] if tspec.dedup and tspec.dedup.id_column else None)
        )
        if not keys:
            raise SystemExit(
                "--reconcile needs --keys (or a dedup id_column on the table)"
            )
        ctx = JobContext(spark, job.global_spec)
        expected = compile_table(ctx, full_spec).df
        actual = ctx._read_target(tspec.target_table, tspec.target_schema)
        # compare on the pipeline's output columns only: the target may
        # carry extra lineage/audit columns the plan didn't produce
        diff = snapshot_diff(
            expected, actual.select(expected.columns), keys
        )
        rows = diff_summary(diff).collect()
        summary = {r["diff_status"]: r["n"] for r in rows}
        logger.info("reconcile %s: %s", tspec.target_table, summary)
        for r in rows:
            print(f"{r['diff_status']}: {r['n']}")
        bad = sum(n for st, n in summary.items() if st != "same")
        return 1 if bad else 0

    if args.checksum:
        from .compiler import compile_table
        from .operators.reconcile import table_checksum

        tspec, full_spec = _resolve_full_spec(args.checksum, "--checksum")
        ctx = JobContext(spark, job.global_spec)
        expected = compile_table(ctx, full_spec).df
        actual = ctx._read_target(tspec.target_table, tspec.target_schema)
        cols = _exact_shared_cols(expected, actual, "--checksum")
        left = {
            r["bucket"]: (r["n_rows"], r["xor_checksum"], r["sum_checksum"])
            for r in table_checksum(expected, cols).collect()
        }
        right = {
            r["bucket"]: (r["n_rows"], r["xor_checksum"], r["sum_checksum"])
            for r in table_checksum(actual, cols).collect()
        }
        seen = set(left) | set(right)
        bad = sorted(b for b in seen if left.get(b) != right.get(b))
        logger.info(
            "checksum %s over %s: %d/%d populated buckets match",
            tspec.target_table, cols, len(seen) - len(bad), len(seen),
        )
        for b in bad:
            print(f"bucket {b}: pipeline={left.get(b)} target={right.get(b)}")
        print(f"checksum: {'DIVERGED' if bad else 'OK'} ({len(bad)} buckets differ)")
        return 1 if bad else 0

    if args.diff:
        from .compiler import compile_table
        from .operators.reconcile import checksum_drilldown

        tspec, full_spec = _resolve_full_spec(args.diff, "--diff")
        ctx = JobContext(spark, job.global_spec)
        expected = compile_table(ctx, full_spec).df
        actual = ctx._read_target(tspec.target_table, tspec.target_schema)
        cols = _exact_shared_cols(expected, actual, "--diff")
        diff = checksum_drilldown(
            expected.select(*cols), actual.select(*cols), cols
        )
        rows = diff.limit(51).collect()
        logger.info(
            "diff %s over %s: %s differing row values%s",
            tspec.target_table, cols,
            len(rows) if len(rows) <= 50 else "50+",
            "" if rows else " — multiset-identical",
        )
        for r in rows[:50]:
            vals = ", ".join(f"{c}={r[c]!r}" for c in cols)
            print(f"pipeline×{r['n_left']} target×{r['n_right']}: {vals}")
        if len(rows) > 50:
            print("… (more rows; raise the limit in code or use --reconcile)")
        print(f"diff: {'DIVERGED' if rows else 'OK'}")
        return 1 if rows else 0

    if args.freqcap:
        from pathlib import Path

        from .streaming.cms_monitor import frequency_cap_report

        tspec, _ = _resolve_full_spec(args.freqcap, "--freqcap")
        if tspec.frequency_cap is None:
            raise SystemExit(
                f"--freqcap: table {tspec.target_table!r} declares no "
                "frequency_cap block"
            )
        inc = tspec.incremental
        state_dir = Path(
            inc.state_path
            or f".stream/{tspec.source_table}__{tspec.target_table}"
        )
        rep = _read_monitor(
            lambda pth: frequency_cap_report(spark, pth),
            str(state_dir / "freqcap_report"),
            "--freqcap",
            "frequency_cap",
        ).collect()
        total_over = sum(r["n_over_cap"] for r in rep)
        logger.info(
            "freqcap %s: %d drained batches, %d over-cap key verdicts",
            tspec.target_table, len(rep), total_over,
        )
        for r in rep:
            print(
                f"batch {r['batch_id']}: rows={r['n_rows']} "
                f"keys={r['n_keys']} over_cap={r['n_over_cap']} "
                f"under_cap={r['n_under_cap']}"
            )
        print(
            f"freqcap: {len(rep)} batches, cap={tspec.frequency_cap.cap}, "
            f"total over-cap verdicts {total_over}"
        )
        return 0

    if args.sightings:
        from pathlib import Path

        from .streaming.bloom_monitor import first_sighting_report

        tspec, _ = _resolve_full_spec(args.sightings, "--sightings")
        if tspec.first_sighting is None:
            raise SystemExit(
                f"--sightings: table {tspec.target_table!r} declares no "
                "first_sighting block"
            )
        inc = tspec.incremental
        state_dir = Path(
            inc.state_path
            or f".stream/{tspec.source_table}__{tspec.target_table}"
        )
        rep = _read_monitor(
            lambda pth: first_sighting_report(spark, pth),
            str(state_dir / "sighting_report"),
            "--sightings",
            "first_sighting",
        ).collect()
        total_maybe = sum(r["n_maybe_seen"] for r in rep)
        logger.info(
            "sightings %s: %d drained batches, %d maybe-seen rows",
            tspec.target_table, len(rep), total_maybe,
        )
        for r in rep:
            print(
                f"batch {r['batch_id']}: rows={r['n_rows']} "
                f"definite_new={r['n_definite_new']} "
                f"maybe_seen={r['n_maybe_seen']}"
            )
        print(
            f"sightings: {len(rep)} batches, "
            f"total maybe-seen {total_maybe}"
        )
        return 0

    if args.budget:
        from pathlib import Path

        from .streaming.budget_monitor import budget_totals

        tspec, _ = _resolve_full_spec(args.budget, "--budget")
        if tspec.token_budget is None:
            raise SystemExit(
                f"--budget: table {tspec.target_table!r} declares no "
                "token_budget block"
            )
        tb = tspec.token_budget
        inc = tspec.incremental
        state_dir = Path(
            inc.state_path
            or f".stream/{tspec.source_table}__{tspec.target_table}"
        )
        rows = _read_monitor(
            lambda pth: budget_totals(spark, pth, list(tb.group_columns)),
            str(state_dir / "budget_state"),
            "--budget",
            "token_budget",
        ).orderBy(*tb.group_columns).collect()
        closed = sum(1 for r in rows if r["tokens_admitted"] >= tb.budget)
        logger.info(
            "budget %s: %d groups, %d closed (budget %d)",
            tspec.target_table, len(rows), closed, tb.budget,
        )
        for r in rows:
            grp = ", ".join(f"{c}={r[c]!r}" for c in tb.group_columns)
            state = "CLOSED" if r["tokens_admitted"] >= tb.budget else "open"
            print(f"{grp}: {r['tokens_admitted']}/{tb.budget} {state}")
        print(f"budget: {len(rows)} groups, {closed} closed")
        return 0

    if args.panel:
        from pathlib import Path

        from .streaming.kmv_monitor import current_panel

        tspec, _ = _resolve_full_spec(args.panel, "--panel")
        if tspec.sample_panel is None:
            raise SystemExit(
                f"--panel: table {tspec.target_table!r} declares no "
                "sample_panel block"
            )
        sp = tspec.sample_panel
        inc = tspec.incremental
        state_dir = Path(
            inc.state_path
            or f".stream/{tspec.source_table}__{tspec.target_table}"
        )
        if sp.carry:
            # a declared carry flips the read side from member listing
            # to range-free nearest-rank quantiles of the first
            # carried value (the batch state: block's rule)
            from .streaming.kmv_monitor import panel_quantiles

            frame = _read_monitor(
                lambda pth: panel_quantiles(
                    spark, pth, list(sp.group_columns), sp.id_column,
                    sp.carry[0], list(sp.quantiles), carry=list(sp.carry),
                ),
                str(state_dir / "panel_state"),
                "--panel",
                "sample_panel",
            ).orderBy(*sp.group_columns)
            if args.out:
                frame.write.mode("overwrite").parquet(args.out)
                print(f"panel written: {args.out}")
            rows = frame.collect()
            logger.info(
                "panel %s: quantiles of %r over %d groups",
                tspec.target_table, sp.carry[0], len(rows),
            )
            for r in rows:
                print(", ".join(f"{c}={r[c]!r}" for c in r.asDict()))
            print(f"panel: {sp.carry[0]} quantiles, {len(rows)} groups")
            return 0
        frame = _read_monitor(
            lambda pth: current_panel(
                spark, pth, list(sp.group_columns), sp.id_column
            ),
            str(state_dir / "panel_state"),
            "--panel",
            "sample_panel",
        ).orderBy(*sp.group_columns, "sample_rank")
        if args.out:
            frame.write.mode("overwrite").parquet(args.out)
            print(f"panel written: {args.out}")
        rows = frame.collect()
        logger.info(
            "panel %s: %d members (k=%d per %s group)",
            tspec.target_table, len(rows), sp.k, sp.group_columns,
        )
        for r in rows:
            grp = ", ".join(f"{c}={r[c]!r}" for c in sp.group_columns)
            print(f"{grp} #{r['sample_rank']}: {sp.id_column}={r[sp.id_column]!r}")
        print(f"panel: {len(rows)} members")
        return 0

    if args.state:
        from .compiler import default_state_dir
        from .operators.statemaint import finalize_state_report

        tspec, _ = _resolve_full_spec(args.state, "--state")
        if not tspec.state_blocks:
            raise SystemExit(
                f"--state: table {tspec.target_table!r} declares no "
                "state block"
            )
        from .compiler import state_dirs

        blocks = state_dirs(tspec)
        for st, state_dir in blocks:
            rows = _read_monitor(
                lambda pth, _st=st: finalize_state_report(spark, pth, _st),
                state_dir,
                "--state",
                "state",
            )
            order = list(st.keys) or rows.columns[:1]
            rows = rows.orderBy(*order)
            if args.out:
                from .operators.statemaint import sanitize_mark

                dest = (
                    args.out
                    if len(blocks) == 1
                    else f"{args.out}/{st.kind}_"
                    f"{sanitize_mark(st.value_column)}"
                )
                rows.write.mode("overwrite").parquet(dest)
                print(f"state written: {dest}")
            rows = rows.collect()
            logger.info(
                "state %s: kind=%s, %d report rows",
                tspec.target_table, st.kind, len(rows),
            )
            if len(blocks) > 1:
                print(f"-- state kind={st.kind} value={st.value_column}")
            for r in rows:
                print(", ".join(f"{c}={r[c]!r}" for c in r.asDict()))
            print(f"state: {st.kind}, {len(rows)} rows")
        return 0

    if args.overlap:
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        from .operators.aggstate import (
            _KMV_STATE_COLS,
            kmv_overlap_pairs,
            merge_kmv_states,
        )

        # accept either a state PATH or a table name whose state:
        # block maintains a KMV state (UX parity with the other
        # monitor verbs, which all resolve table names)
        target = args.overlap
        named = next(
            (
                t for t in job.tables
                if t.target_table == target or t.source_table == target
            ),
            None,
        )
        if named is not None:
            from .compiler import state_dirs

            kmv_dirs = [
                d for st, d in state_dirs(named) if st.kind == "kmv"
            ]
            if not kmv_dirs:
                raise SystemExit(
                    f"--overlap: table {target!r} declares no "
                    "state: {kind: kmv} block — point --overlap at a "
                    "persisted KMV state path instead"
                )
            if len(kmv_dirs) > 1:
                raise SystemExit(
                    f"--overlap: table {target!r} declares "
                    f"{len(kmv_dirs)} kmv state blocks — point "
                    f"--overlap at one of their paths: {kmv_dirs}"
                )
            target = kmv_dirs[0]
        try:
            raw = spark.read.parquet(target)
        except (AnalysisException, FileNotFoundError) as exc:
            raise SystemExit(
                f"--overlap: no KMV state at {target!r} — persist "
                "one first (build_kmv_state(...).write.parquet(path), "
                "a kmv_increment_writer stream's state_path, or a "
                "state: {kind: kmv} table's nightly increments)"
            ) from exc
        # mark=/batch_id= subdirectories (statemaint nightly / stream
        # increment layouts) surface as hive partition columns on the
        # raw read — increment PROVENANCE, not group keys
        group_cols = [
            c for c in raw.columns
            if c not in _KMV_STATE_COLS and c not in ("mark", "batch_id")
        ]
        missing = [c for c in _KMV_STATE_COLS if c not in raw.columns]
        if missing:
            raise SystemExit(
                f"--overlap: {args.overlap!r} is not a KMV state "
                f"(missing columns {missing}; expected group column(s) "
                f"plus {_KMV_STATE_COLS})"
            )
        if len(group_cols) != 1:
            raise SystemExit(
                f"--overlap: state must be keyed by exactly ONE group "
                f"column to audit pairwise overlaps, got {group_cols or 'none'}"
                " — rebuild the state keyed by the segment column alone"
            )
        gcol = group_cols[0]
        # fold appended increments first (validates layout drift loudly)
        state = merge_kmv_states([raw], [gcol])
        floor = float(args.jaccard_floor)
        pairs = kmv_overlap_pairs(state, gcol)
        rows = (
            pairs.where(F.col("jaccard_e6") >= F.lit(floor))
            .orderBy(F.col("jaccard_e6").desc(), "g1", "g2")
            .collect()
        )
        logger.info(
            "overlap %s (group=%s): %d pairs at jaccard >= %g",
            args.overlap, gcol, len(rows), floor,
        )
        for r in rows:
            print(
                f"{r['g1']!r} ~ {r['g2']!r}: union={r['union_est']} "
                f"intersect={r['intersect_est']} jaccard={r['jaccard_e6']} "
                f"contain_g1={r['contain_g1_e6']} "
                f"contain_g2={r['contain_g2_e6']}"
            )
        verdict = "DISJOINT" if not rows else f"{len(rows)} pairs"
        print(f"overlap: {verdict} at jaccard floor {floor:g}")
        return 1 if (floor > 0.0 and rows) else 0

    if args.layout:
        import json as _json

        from .sinks.maintenance import small_file_report

        rep = small_file_report(spark, _files_target(args.layout, "--layout")[0])
        print(_json.dumps(rep))
        return 0

    if args.expect:
        from .compiler import compile_table
        from .operators.expectations import Expect, run_expectations
        from .spec import LookupSpec as _LkSpec

        tspec, _ = _resolve_full_spec(args.expect, "--expect")
        if not tspec.expectations:
            raise SystemExit(
                f"--expect: table {tspec.target_table!r} declares no "
                "expectations block"
            )
        if tspec.incremental is not None and tspec.incremental.mode == "streaming":
            # mirror run_table exactly: the real gate refuses streaming
            # + expectations, so a dry run over a batch recompute would
            # preview a contract the pipeline can never evaluate
            raise SystemExit(
                f"--expect: {tspec.target_table}: expectations need an "
                "eager pre-write aggregate — not available in streaming "
                "mode (the real gate refuses this table too)"
            )
        ctx = JobContext(spark, job.global_spec)
        # incremental stage INTACT (ADVICE r5 #2): run_table gates the
        # INCREMENTAL frame, and row_count/freshness over it differ from
        # a full recompute — the dry run must evaluate the same frame.
        # Compile only: the high-water commit callback is never invoked,
        # so no incremental state advances.
        compiled = compile_table(ctx, tspec)
        checks = [Expect.from_spec(e) for e in tspec.expectations]
        report = run_expectations(
            compiled.df,
            checks,
            resolve_ref=lambda t: ctx.lookup_table(_LkSpec(table=t, key_column="_")),
        ).collect()
        # mirror enforce(): warn-severity failures report but don't flip
        # the exit code — the dry run must agree with the real gate.
        # Severity matched by check LABEL, like enforce (ADVICE r5 #3)
        warn_only = {c.label for c in checks if c.severity == "warn"} - {
            c.label for c in checks if c.severity != "warn"
        }
        n_fatal = 0
        for r in report:
            if r["passed"]:
                tag = "PASS"
            elif r["check"] in warn_only:
                tag = "WARN"
            else:
                tag = "FAIL"
                n_fatal += 1
            print(
                f"{tag}  {r['check']}  "
                f"observed={r['observed']}  threshold={r['threshold']}"
            )
        n_pass = sum(1 for r in report if r["passed"])
        print(f"expectations: {n_pass}/{len(report)} passed")
        return 1 if n_fatal else 0

    if args.profile:
        from .compiler import _read_target_or_source
        from .operators.profile import profile_table

        ctx = JobContext(spark, job.global_spec)
        df = _read_target_or_source(ctx, args.profile, "table")
        profile_table(df).show(truncate=False)
        return 0

    if args.explain:
        # plan review only: no smoke_check (it stats/pings sources) and
        # explain_only=True suppresses the incremental snapshot-bound
        # probe — NOTHING executes against any source.
        from .compiler import compile_table

        ctx = JobContext(spark, job.global_spec, explain_only=True)
        for spec in job.tables:
            compiled = compile_table(ctx, spec)
            print(f"== {spec.source_table} -> {spec.target_table} ==")
            compiled.df.explain("formatted")
        return 0

    smoke_check(spark, job)
    from .compiler import TableRunErrors

    try:
        results = run_job(spark, job)
    except TableRunErrors as e:
        # on_table_error=continue contract: healthy tables already
        # loaded — report EVERY table, name the failures, exit nonzero
        log = logging.getLogger(__name__)
        for table, n in e.results.items():
            if n >= 0:
                log.info("loaded %s: %d rows", table, n)
        for table, err in e.failures.items():
            log.error("FAILED %s: %s", table, err)
        return 1
    for table, n in results.items():
        logging.getLogger(__name__).info("loaded %s: %d rows", table, n)
    return 0


if __name__ == "__main__":
    sys.exit(main())
