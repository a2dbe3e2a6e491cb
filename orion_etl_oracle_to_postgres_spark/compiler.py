"""Job compiler: TableSpec → one declarative DataFrame plan.

This replaces the reference's volcano-style per-row loop
(``/root/reference/pipeline.py:18-129``) with plan construction; Catalyst
then does projection/predicate pushdown, join selection, AQE, and
whole-stage codegen (SURVEY.md §3.2, §4). Stage order preserves the
reference's dataflow exactly (SURVEY.md §7.4.4/7.4.5):

1. source scan (+ free-text ``where`` on *source* columns — pushed into
   the scan by Catalyst, ``default_fetcher.py:31,40``)
2. schema reconciliation / auto-mapping (P2/S4/S7)
3. projection + rename + per-column transform chains (P1, T1-T6)
4. external lookup joins (J1) and self-lookup key staging (J2) —
   lookups are transform plugins in the reference, so they run before
   validators (``pipeline.py:58-62``)
5. validation rules on target columns (V1-V3; fail-fast rules checked
   eagerly pre-write — §7.4.1)
6. self-lookup resolution (J2) — reference does this post-load in
   ``finalize_table``; the pre-write self-join is semantically identical
   and single-pass
7. sink

Table-level plugins (transform/validation/fetcher/loader) resolve through
the registry with the reference's precedence: table overrides global;
``transform_override: true`` discards the global chain
(``pipeline.py:54-66``, ``mappings/parser.py:112-126``).
"""

from __future__ import annotations

import logging
import re
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import registry
from .operators.automap import auto_map, reconcile
from .operators.lookups import external_lookup, self_lookup
from .operators.transforms import apply_transform_chain
from .operators.validations import (
    ErrorCheck,
    apply_validations,
    run_error_checks,
    split_quarantine,
)
from .sinks import files_target, replace_table, resolve_sink
from .sources import resolve_source
from .spec import GlobalSpec, JobSpec, LookupSpec, MappingSpec, TableSpec

logger = logging.getLogger(__name__)


@dataclass
class CompiledTable:
    """A fully-built plan for one table, not yet executed."""

    spec: TableSpec
    df: DataFrame
    error_checks: list[ErrorCheck] = field(default_factory=list)
    #: advance the high-water mark — call ONLY after a successful write
    incremental_commit: Optional[Callable[[], None]] = None
    #: rows rejected by ``on_fail: quarantine`` rules (with labels), or None
    quarantine: Optional[DataFrame] = None
    #: rows dropped by the declarative ``quality_filter`` (with their
    #: score), or None — written to ``quality_filter.reject_table``
    quality_rejects: Optional[DataFrame] = None
    #: rows dropped by the declarative ``decontaminate`` stage (with
    #: match-count audit columns) — written to its ``reject_table``
    decontam_rejects: Optional[DataFrame] = None
    #: per-validation-rule violation counters — (label, Observation)
    #: pairs riding the sink's own action; read AFTER the write
    validation_metrics: list = field(default_factory=list)


class JobContext:
    """Job-scoped context: SparkSession + specs + caches. Replaces the
    reference's per-batch ``ExecutionContext``
    (``/root/reference/core/context.py:9-34``) — there are no batches to
    track; Spark owns partitioning."""

    def __init__(
        self,
        spark: SparkSession,
        global_spec: GlobalSpec,
        explain_only: bool = False,
    ):
        self.spark = spark
        self.global_spec = global_spec
        #: plan-review mode (``runner --explain``): compile_table must not
        #: run ANY source-side action (e.g. the incremental snapshot-bound
        #: max probe) — the promise is "print plans without executing".
        self.explain_only = explain_only
        self._lookup_cache: dict[str, DataFrame] = {}
        self._lookup_pinned: set[str] = set()
        #: rows written by the latest streaming drain, per target table
        #: (streaming plans have no Observation for run_job to read)
        self.stream_counts: dict[str, int] = {}

    def lookup_table(self, lk: LookupSpec) -> DataFrame:
        """Dimension tables live on the target side in the reference
        (lookups query Postgres — ``default_lookup.py:71``); read the
        target table, or the source one when the target has none
        (``_read_target_or_source``). Cached per job so repeated rules
        share one scan."""
        if lk.table in self._lookup_cache:
            # Second request ⇒ a later table reuses this dimension: pin it
            # with a LAZY localCheckpoint (materializes during that table's
            # own action — nothing extra runs in explain mode) so tables
            # 3..N skip the re-scan. For JDBC dims that re-scan is a live
            # DB query per table; for files it is ~27 ms/scan at sf0.1
            # (measured) — so the checkpoint only happens on proven reuse,
            # never for single-use jobs. Job-scoped blocks, freed with the
            # context; `persist` is deliberately NOT used (the caller
            # can't unpersist what the library pins).
            if lk.table not in self._lookup_pinned:
                self._lookup_cache[lk.table] = _lazy_checkpoint(
                    self, self._lookup_cache[lk.table]
                )
                self._lookup_pinned.add(lk.table)
            return self._lookup_cache[lk.table]
        df = _read_target_or_source(self, lk.table, "lookup table")
        self._lookup_cache[lk.table] = df
        return df

    def _read_target(self, table: str, schema: Optional[str] = None) -> DataFrame:
        conns = self.global_spec.connectors
        if conns.target_files is not None:
            from .sources.files import read_file_table

            # no schema: files writes land at <base>/<table> (sinks), so
            # a <base>/<schema>/<table> copy is never the target
            return read_file_table(self.spark, conns.target_files, table)
        jdbc_conn = conns.target_jdbc or conns.postgres
        if jdbc_conn is not None:
            from .sources.jdbc import read_jdbc_table

            return read_jdbc_table(self.spark, jdbc_conn, table, schema)
        raise ValueError("no target connector")

    def read_target_if_exists(
        self, table: str, schema: Optional[str] = None
    ) -> Optional[DataFrame]:
        """The target table, or None when it does not exist (first load)
        or there is no target connector. Only NOT-FOUND errors mean
        "missing" — a transient failure (JDBC connection refused, auth)
        propagates, so no caller silently switches to its first-load
        path or to a same-named SOURCE table."""
        from pyspark.errors import AnalysisException

        try:
            return self._read_target(table, schema)
        except (FileNotFoundError, AnalysisException, ValueError):
            # FileNotFoundError: files target missing; AnalysisException:
            # unresolved table/path; ValueError: no target connector at all
            return None
        except Exception as e:  # noqa: BLE001 — classified below
            # The JDBC schema probe surfaces a missing table as a wrapped
            # SQLException / Py4JJavaError, not AnalysisException.
            if _is_missing_table_error(e):
                return None
            raise

    def write_target(
        self,
        df: DataFrame,
        spec: TableSpec,
        table: Optional[str] = None,
        *,
        mode: Optional[str] = None,
        replace: bool = False,
        **kw,
    ) -> None:
        """Write ``df`` to target table ``table`` (default: the spec's
        own) through the sinks' target rule, with the spec's schema and
        the job's JDBC batch size. The spec's ``partition_by``/``sort_by``
        lay out its own table only; side outputs (rejects, overflow
        tables) are written flat. ``replace`` overwrites a table the
        frame's plan reads (``sinks.replace_table``); ``kw`` overrides
        JDBC writer options (``bulk_loader``'s batch size)."""
        table = table or spec.target_table
        own = table == spec.target_table
        args = (df, self.global_spec.connectors, table, spec.target_schema)
        layout = {
            "partition_by": spec.partition_by if own else None,
            "sort_by": spec.sort_by if own else None,
        }
        kw.setdefault("batchsize", min(self.global_spec.batch_size, 10000))
        if replace:
            replace_table(*args, **layout, **kw)
        else:
            resolve_sink(*args, mode=mode or spec.write_mode, **layout, **kw)

    def target_table_columns(self, spec: TableSpec) -> Optional[list[str]]:
        """Target-catalog column list for auto-mapping (P2/S7 parity):
        the reference fills empty mappings from the TARGET table's
        ``information_schema.columns`` in ordinal order
        (``default_auto_mapping.py:18-26``,
        ``postgres_connector.py:111-124``). Spark reads the target's
        schema instead — JDBC metadata or the existing files dataset.
        Returns None when the target doesn't exist yet (first load);
        auto-mapping then mirrors the source."""
        df = self.read_target_if_exists(spec.target_table, spec.target_schema)
        return None if df is None else df.columns

    def _read_source(self, table: str) -> DataFrame:
        return resolve_source(self.spark, self.global_spec.connectors, table)


def _lazy_checkpoint(ctx: "JobContext", df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` that respects ``--explain``:
    even the LAZY checkpoint finalizes AQE shuffle stages at plan-build
    time (converting to an RDD executes query stages), so under
    ``explain_only`` the frame is returned unpinned — plans print, and
    nothing executes. The pin only matters when actions will actually
    run (two sinks sharing one materialization), which explain mode
    never does."""
    if ctx.explain_only:
        return df
    return df.localCheckpoint(eager=False)


def _read_target_or_source(ctx: JobContext, name: str, what: str) -> DataFrame:
    """Target table ``name``, or the source one when the target has none.
    A target-side failure other than "missing" propagates rather than
    silently reading a same-named table from the source."""
    df = ctx.read_target_if_exists(name)
    if df is not None:
        return df
    try:
        return ctx._read_source(name)
    except Exception as e:  # noqa: BLE001 — re-raised with the table named
        raise RuntimeError(f"cannot resolve {what} {name!r}: {e}") from e


def _mount_pairs_table(
    ctx: "JobContext",
    name: str,
    *,
    owner: str,
    kind: str,
    required: set[str],
    layout_msg: str,
    field: str = "pairs_table",
) -> DataFrame:
    """Resolve a persisted artifact table for a declarative reuse
    consumer (``dedup.pairs_table`` / ``decontaminate.pairs_table`` /
    ``dedup.centroids_table`` / ``dedup.index_table``) — ONE copy of
    the try-target-then-source resolution ladder and layout
    validation, so the consumers can't drift."""
    mounted = _read_target_or_source(ctx, name, f"{owner}: {kind} {field}")
    missing_cols = required - set(mounted.columns)
    if missing_cols:
        raise ValueError(
            f"{owner}: {kind} {field} {name!r} is missing columns "
            f"{sorted(missing_cols)} — {layout_msg}"
        )
    return mounted


def _is_missing_table_error(e: Exception) -> bool:
    """Classify a JDBC probe failure as 'the table does not exist'.

    Matches the definite markers only — Postgres SQLSTATE 42P01
    (undefined_table) and its message shape, Oracle ORA-00942, and
    Spark's own error class — so auth errors ('role ... does not
    exist') or network failures never silently flip auto-mapping to
    source-mirroring (the reference instead queries
    ``information_schema.tables`` up front,
    ``postgres_connector.py:111-124``)."""
    msg = str(e)
    if "42P01" in msg or "ORA-00942" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg:
        return True
    if "42X05" in msg:  # Derby: Table/View '...' does not exist
        return True
    return "does not exist" in msg and ("relation" in msg or "Table/View" in msg)


_NUM_MARK = re.compile(r"^-?\d+(\.\d+)?$")
_TS_MARK = re.compile(
    r"^(\d{4}-\d{2}-\d{2})[ T](\d{2}:\d{2}:\d{2})(\.(\d{1,9}))?$"
)
_DATE_MARK = re.compile(r"^\d{4}-\d{2}-\d{2}$")


_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _watermark_sql_literal(mark, dtype: str | None = None) -> str:
    """Render a stored high-water mark as a TYPED SQL literal for the
    DB-side max probe (ADVICE r3): marks round-trip through JSON as
    strings, and a bare ``'{mark}'`` string comparison against a
    DATE/TIMESTAMP column relies on the session's implicit NLS
    conversion (ORA-01861 at best, a silent mis-compare at worst) —
    while an arbitrary string containing a quote would break out of the
    literal entirely.

    ``dtype`` is the watermark COLUMN's Spark dtype from the scanned
    frame — the literal form follows the column, not the mark's lexical
    shape (a VARCHAR column full of numeric strings must compare
    lexicographically like the Spark-side filter does, so it stays
    quoted; emitting it unquoted would switch the probe to numeric
    ordering and let the two paths disagree — review finding r4):

    - numeric column → unquoted numeric (validated; garbage raises)
    - timestamp column → ``TO_TIMESTAMP(..., 'YYYY-MM-DD HH24:MI:SS[.FF6]')``
    - date column → ``TO_DATE(..., 'YYYY-MM-DD')``
    - string/unknown column → quoted with embedded quotes doubled
    """
    s = str(mark)
    base = (dtype or "").split("(")[0].lower()
    if base in _NUMERIC_DTYPES or base.startswith("decimal"):
        if not _NUM_MARK.match(s):
            raise ValueError(
                f"stored watermark {s!r} is not numeric but the column is {dtype}"
            )
        return s
    if base.startswith("timestamp") or (base == "" and _TS_MARK.match(s)):
        m = _TS_MARK.match(s)
        if m:
            b = f"{m.group(1)} {m.group(2)}"
            if m.group(4):
                frac = m.group(4)[:6].ljust(6, "0")
                return f"TO_TIMESTAMP('{b}.{frac}', 'YYYY-MM-DD HH24:MI:SS.FF6')"
            return f"TO_TIMESTAMP('{b}', 'YYYY-MM-DD HH24:MI:SS')"
        if base and _DATE_MARK.match(s):
            return f"TO_TIMESTAMP('{s} 00:00:00', 'YYYY-MM-DD HH24:MI:SS')"
        raise ValueError(
            f"stored watermark {s!r} does not parse as a timestamp "
            f"but the column is {dtype}"
        )
    if base == "date" or (base == "" and _DATE_MARK.match(s)):
        if _DATE_MARK.match(s):
            return f"TO_DATE('{s}', 'YYYY-MM-DD')"
        m = _TS_MARK.match(s)
        if m:
            return f"TO_DATE('{m.group(1)}', 'YYYY-MM-DD')"
        raise ValueError(
            f"stored watermark {s!r} does not parse as a date "
            f"but the column is {dtype}"
        )
    if base == "" and _NUM_MARK.match(s):
        # no dtype known (legacy callers): keep the old shape-based rule
        return s
    escaped = s.replace("'", "''")
    return f"'{escaped}'"


def _apply_dedup(ctx: "JobContext", df, spec: TableSpec):
    """Compile ``TableSpec.dedup`` into the plan. Deterministic: with an
    ``id_column`` the survivor is the min-id row per key (stable under
    any partitioning); without one, only full-row DISTINCT is allowed —
    ``dropDuplicates`` on a key subset without a tie-break would pick an
    arbitrary partition-dependent row, which is a silent-corruption
    footgun this engine refuses."""
    d = spec.dedup
    if d.pairs_table and d.method not in ("minhash", "soft"):
        raise ValueError(
            f"{spec.source_table}: dedup pairs_table only applies to "
            f"method minhash/soft, not {d.method!r}"
        )

    def _require_cols(*cols):
        # shared requires/existence validation for the near-dup methods
        missing_req = [n for n, v in cols if not v]
        if missing_req:
            raise ValueError(
                f"{spec.source_table}: dedup method={d.method} requires "
                + " and ".join(n for n, _ in cols)
            )
        for _, v in cols:
            if v not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: dedup column {v!r} not in "
                    f"pipeline output {df.columns}"
                )

    def _mine_pairs():
        # shared MinHash pair mining for minhash/soft — (id, text) only.
        # A declared pairs_table short-circuits the banded join: the
        # pair set was mined once (and persisted) by an earlier job, so
        # consumers pay one parquet scan instead of re-shingling the
        # corpus (VERDICT r7 ask #5).
        if d.pairs_table:
            pairs = _mount_pairs_table(
                ctx,
                d.pairs_table,
                owner=spec.source_table,
                kind="dedup",
                required={"id_i", "id_j"},
                layout_msg=(
                    "persist the minhash_near_dups layout "
                    "(id_i, id_j[, jaccard])"
                ),
            )
            # restrict to edges whose BOTH endpoints are in THIS
            # pipeline's output (a persisted table usually covers the
            # whole corpus; the consumer may be filtered): otherwise a
            # cluster whose min-id survivor was filtered away would
            # drop ALL its in-pipeline members (minhash), and soft
            # weights would count absent ghost members — inline mining
            # never sees such edges, reuse must not either
            ids = df.select(F.col(d.id_column))
            return (
                pairs.select("id_i", "id_j")
                .join(
                    ids.withColumnRenamed(d.id_column, "id_i"),
                    "id_i",
                    "left_semi",
                )
                .join(
                    ids.withColumnRenamed(d.id_column, "id_j"),
                    "id_j",
                    "left_semi",
                )
            )
        from .operators.dedup import minhash_near_dups

        return minhash_near_dups(
            df.select(d.id_column, d.text_column),
            d.id_column,
            d.text_column,
            shingle_n=d.shingle_n,
            num_hashes=d.num_hashes,
            bands=d.bands,
            seed=d.seed,
            threshold=d.threshold,
        )

    # with a persisted pair table the text is never read — only the id
    # is needed to join/anti-join; demanding text_column would force a
    # dummy text column through id+metadata-only consumer pipelines
    _near_dup_cols = (
        (("id_column", d.id_column),)
        if d.pairs_table
        else (("text_column", d.text_column), ("id_column", d.id_column))
    )
    if d.method == "minhash" and d.index_table:
        # INCREMENTAL near-dup dedup against a PERSISTED MinHash index
        # (minhash_index_build's two-table layout): the pipeline's rows
        # — typically a ``mode: incremental`` delta — are shingled and
        # probed against the standing index; rows near-duplicating an
        # INDEXED document at ``threshold`` Jaccard drop with one
        # ids-only anti-join. The archive text is NEVER re-read (the
        # index carries ids+hashes only), which is the point: at 100 TB
        # the index is the durable artifact and each day's delta pays
        # one bucket join + candidate-bounded verify against it.
        # Within-delta duplicates are out of scope here (the next index
        # append covers them); compose with an inline dedup if same-day
        # twins matter.
        _require_cols(
            ("text_column", d.text_column), ("id_column", d.id_column)
        )
        from .operators.dedup import minhash_index_lookup

        banded_ix = _mount_pairs_table(
            ctx,
            f"{d.index_table}_bands",
            owner=spec.source_table,
            kind="dedup",
            required={"__id", "band_id", "band_hash"},
            layout_msg=(
                "persist minhash_index_build's banded frame as "
                "<index_table>_bands (__id, band_id, band_hash)"
            ),
            field="index_table",
        )
        flat_ix = _mount_pairs_table(
            ctx,
            f"{d.index_table}_shingles",
            owner=spec.source_table,
            kind="dedup",
            required={"__id", "__h"},
            layout_msg=(
                "persist minhash_index_build's shingle stream as "
                "<index_table>_shingles (__id, __h)"
            ),
            field="index_table",
        )
        flagged = minhash_index_lookup(
            df.select(d.id_column, d.text_column),
            banded_ix,
            flat_ix,
            d.id_column,
            d.text_column,
            shingle_n=d.shingle_n,
            num_hashes=d.num_hashes,
            bands=d.bands,
            seed=d.seed,
            threshold=d.threshold,
        )
        losers = flagged.select(
            F.col("id_i").alias(d.id_column)
        ).distinct()
        return df.join(losers, d.id_column, "left_anti")
    if d.method == "minhash":
        # NEAR-dup dedup in the pipeline: pairs → transitive clusters →
        # drop every non-minimum member. The pair/cluster computation
        # runs on (id, text) only; the corpus frame is then filtered
        # with one anti-join against the loser id set — ids-only
        # exchanges, the same scale shape as the standalone operators.
        _require_cols(*_near_dup_cols)
        from .operators.dedup import near_dup_clusters

        clusters = near_dup_clusters(_mine_pairs())
        losers = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select(F.col("doc_id").alias(d.id_column))
        return df.join(losers, d.id_column, "left_anti")
    if d.method == "soft":
        # soft dedup: same pair/cluster machinery as minhash, but every
        # row SHIPS — annotated with cluster_id/n_dups/sample_weight
        # (1/n_dups) instead of losers being anti-joined away
        _require_cols(*_near_dup_cols)
        clash = {"cluster_id", "n_dups", "sample_weight"} & set(df.columns)
        if clash:
            raise ValueError(
                f"{spec.source_table}: dedup method=soft adds "
                f"{sorted(clash)} but the pipeline already has them — "
                "rename those columns or use another method"
            )
        from .operators.dedup import soft_dedup_weights

        return soft_dedup_weights(df, d.id_column, pairs=_mine_pairs())
    def _vector_dedup(label_fn):
        # shared embedding-space dedup shape (semantic | semdedup):
        # validate the vector/id columns, label (id, vector) rows with
        # the method's OWN keep rule, drop the losers with one ids-only
        # anti-join — vectors stay out of the corpus join either way
        if not d.vector_column or not d.id_column:
            raise ValueError(
                f"{spec.source_table}: dedup method={d.method} requires "
                "vector_column and id_column"
            )
        for c in (d.vector_column, d.id_column):
            if c not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: dedup column {c!r} not in "
                    f"pipeline output {df.columns}"
                )
        labeled = label_fn(df.select(d.id_column, d.vector_column))
        losers = labeled.filter(~F.col("keep")).select(F.col(d.id_column))
        return df.join(losers, d.id_column, "left_anti")

    if d.method == "semantic":
        # LSH cosine pairs → transitive clusters → min-id survivor
        from .operators.similarity import semantic_dedup

        return _vector_dedup(
            lambda sub: semantic_dedup(
                sub,
                vec_col=d.vector_column,
                id_col=d.id_column,
                threshold=d.threshold,
                n_planes=d.n_planes,
                seed=d.seed,
            )
        )
    if d.method == "semdedup":
        # cell-bounded pairs (SemDeDup); the keep column carries the
        # LEAST-prototypical survivor rule, so unlike the other
        # near-dup methods the loser set is NOT "non-minimum id".
        # centroids_table mounts a TRAINED (cluster_id, centroid)
        # codebook (e.g. a persisted ivf_train output) — real corpora
        # whose ids don't start near 0 cluster on trained cells instead
        # of the deterministic id < n_centroids default.
        from .operators.similarity import semdedup_cells

        codebook = (
            _mount_pairs_table(
                ctx,
                d.centroids_table,
                owner=spec.source_table,
                kind="dedup",
                required={"cluster_id", "centroid"},
                layout_msg=(
                    "persist a trained codebook with (cluster_id, "
                    "centroid) columns — ivf_train's output layout"
                ),
                field="centroids_table",
            )
            if d.centroids_table
            else None
        )
        return _vector_dedup(
            lambda sub: semdedup_cells(
                sub,
                vec_col=d.vector_column,
                id_col=d.id_column,
                n_centroids=d.n_centroids,
                threshold=d.threshold,
                centroids=codebook,
            )
        )
    if d.method == "fingerprint":
        if not d.text_column or not d.id_column:
            raise ValueError(
                f"{spec.source_table}: dedup method=fingerprint requires "
                "text_column and id_column"
            )
        from .operators.dedup import normalize_text

        key_cols = [F.md5(normalize_text(F.col(d.text_column))).alias("__fp")]
        key_names = ["__fp"]
    else:  # exact
        if d.columns is None:
            return df.distinct()
        if not d.columns:
            # an explicit empty list would build a keyless global window
            # that silently collapses the whole table to one row
            raise ValueError(
                f"{spec.source_table}: dedup columns is an empty list — "
                "omit it for full-row DISTINCT or name the key columns"
            )
        if not d.id_column:
            raise ValueError(
                f"{spec.source_table}: dedup method=exact with a column "
                "subset requires id_column for a deterministic survivor"
            )
        missing = [c for c in d.columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"{spec.source_table}: dedup columns not in pipeline output: {missing}"
            )
        key_cols, key_names = [], list(d.columns)
    if d.id_column and d.id_column not in df.columns:
        raise ValueError(
            f"{spec.source_table}: dedup id_column {d.id_column!r} not in "
            f"pipeline output columns {df.columns}"
        )
    from pyspark.sql.window import Window

    staged = df.select("*", *key_cols) if key_cols else df
    w = Window.partitionBy(*key_names).orderBy(F.col(d.id_column).asc())
    keep = F.col("__rn") == 1
    if d.method == "fingerprint":
        # NULL text → NULL fingerprint; those rows have no content to
        # dedup BY and must all pass through — a NULL group key would
        # otherwise dedup every NULL-text row against the others
        keep = keep | F.col("__fp").isNull()
    return (
        staged.withColumn("__rn", F.row_number().over(w))
        .filter(keep)
        .drop("__rn", *[n for n in key_names if n.startswith("__")])
    )


def compile_table(ctx: JobContext, spec: TableSpec) -> CompiledTable:
    """Build the full DataFrame plan for one table."""
    g = ctx.global_spec

    # 1. scan (custom fetcher plugin may replace it — reference FetcherPlugin).
    # Resolve INSIDE try/except KeyError, invoke OUTSIDE: a KeyError
    # raised inside a custom fetcher (e.g. a dict miss) must propagate,
    # not be silently misread as "plugin not found → default scan".
    fetcher_name = spec.fetcher_plugin or g.fetcher_plugin
    fetcher = None
    if fetcher_name not in ("default_fetcher",):
        try:
            fetcher = registry.get("fetcher", fetcher_name)
        except KeyError:
            logger.warning("fetcher plugin %r not found — using default", fetcher_name)
    streaming = spec.incremental is not None and spec.incremental.mode == "streaming"
    if streaming:
        _assert_streaming_spec(ctx, spec, fetcher)
        df = _streaming_scan(ctx, spec)
    else:
        df = fetcher(ctx, spec) if fetcher is not None else _default_scan(ctx, spec)

    # row-level lineage columns must be captured AT THE SCAN —
    # input_file_name() is undefined once rows detach from their file
    # (it returns '' after any shuffle, including a streaming dedup's
    # state exchange), so this stages before everything
    if spec.lineage:
        import uuid

        df = df.withColumn("_source_file", F.input_file_name()).withColumn(
            "_load_id", F.lit(uuid.uuid4().hex)
        )

    # free-text where on source columns (S3/P5) — Catalyst pushes it down
    if spec.where:
        df = df.filter(F.expr(spec.where))

    # Scan fan-out for compute-dense pipelines (optimization guide §2.5
    # input skew): a small one-file source scans as ONE task, and a spec
    # that shingles/hashes/vector-transforms every row serializes that
    # work on one core. Size-derived (no exchange on production-sized
    # inputs — see sources.files.scan_fanout), files-source batch scans
    # only, AFTER lineage (input_file_name must bind at the scan) and
    # AFTER the where filter (the pushed filter shrinks the exchange).
    # Relational specs (plain map/validate/load) skip it — measured, the
    # exchange costs more than the parallelism there.
    if (
        not streaming
        and fetcher is None
        and ctx.global_spec.connectors.source_files is not None
        and (
            spec.dedup is not None
            or spec.decontaminate is not None
            or spec.augment is not None
            or spec.vector_transform is not None
            or spec.quality_filter is not None
            or spec.rewrite is not None
        )
    ):
        from .sources.files import scan_fanout, table_path

        try:
            _scan_path = table_path(
                ctx.global_spec.connectors.source_files,
                spec.source_table,
                spec.source_schema,
            )
        except OSError:
            # FileNotFoundError for a missing local table; any other
            # OSError (permission, transient FS) must not break plan
            # compilation over an optional repartition either
            _scan_path = None
        if _scan_path is not None:
            df = scan_fanout(ctx.spark, df, _scan_path)

    if streaming and spec.dedup is not None:
        # Watermarked streaming dedup runs on the source shape (the
        # mapping projection may drop/rename the watermark column) but
        # AFTER the where filter — matching batch semantics, where a
        # filtered-out first arrival must not suppress a later passing
        # row with the same key. State bounded by the delay horizon
        # (SURVEY §2.9). Keys are SOURCE column names here.
        df = _streaming_dedup(df, spec)

    # incremental high-water-mark bound (realizes the reference's
    # declared-but-missing ``incremental_fetcher`` — SURVEY.md §2.9).
    # Applied at the SCAN stage so the predicate pushes into the source
    # read (JDBC WHERE / parquet min-max pruning). Note: bounding the
    # snapshot runs one eager single-column max aggregate here.
    incremental_commit = None
    if spec.incremental is not None and spec.incremental.mode == "batch":
        from .streaming.incremental import HighWaterMark, incremental_read

        inc = spec.incremental
        # default state path/key include the TARGET table: two specs
        # reading one source into different targets must not share a
        # mark (the second run would silently see "no new rows")
        state = HighWaterMark(
            inc.state_path
            or f".hwm/{spec.source_table}__{spec.target_table}.json"
        )
        src = df
        # On a JDBC source, push the snapshot-bound max to the DATABASE
        # (one-row query-option read) — Spark's V1 JDBC source doesn't
        # push aggregates down, so the default df.agg(max) would stream
        # every new row's watermark value just to take the max.
        max_probe = None
        conns = g.connectors
        # The DB-side probe queries spec.source_table DIRECTLY, so it is
        # only a faithful bound when the pipeline frame IS that table:
        # a custom fetcher or a spec.where filter can exclude rows the
        # probe would still see, advancing the committed mark past data
        # the run never wrote (silent loss in later increments). In
        # those cases fall back to df.agg(max), which reflects the real
        # frame (ADVICE r3).
        src_jdbc = conns.source_jdbc or conns.oracle
        if (
            fetcher is None
            and not spec.where
            and conns.source_files is None
            and src_jdbc is not None
        ):
            from .sources.jdbc import read_jdbc_table

            src_tbl = (
                f"{spec.source_schema}.{spec.source_table}"
                if spec.source_schema
                else spec.source_table
            )
            wm = inc.watermark_column

            wm_dtype = dict(df.dtypes).get(wm)

            def max_probe(cur_mark, _tbl=src_tbl, _wm=wm, _conn=src_jdbc, _dt=wm_dtype):
                where = (
                    f" WHERE {_wm} > {_watermark_sql_literal(cur_mark, _dt)}"
                    if cur_mark is not None
                    else ""
                )
                row = read_jdbc_table(
                    ctx.spark,
                    _conn,
                    spec.source_table,
                    spec.source_schema,
                    query=f"SELECT MAX({_wm}) AS m FROM {_tbl}{where}",
                ).collect()[0]
                return row[0]  # positional: Oracle upper-folds aliases

        df, incremental_commit = incremental_read(
            lambda: src,
            inc.watermark_column,
            state,
            f"{spec.source_table}->{spec.target_table}.{inc.watermark_column}",
            bound_snapshot=not ctx.explain_only,
            max_probe=max_probe,
        )

    # 2. reconcile mappings — empty mappings fill from the TARGET
    # catalog when the target exists (reference parity, P2/S7), else
    # mirror the source. A registered AutoMappingPlugin replaces the
    # default strategy (reference pipeline.py:27-28).
    target_columns = ctx.target_table_columns(spec) if not spec.mappings else None
    am_name = g.auto_mapping_plugin
    auto_mapper = None
    if am_name not in ("default_auto_mapping",):
        try:
            auto_mapper = registry.get("auto_mapping", am_name)
        except KeyError:
            logger.warning("auto-mapping plugin %r not found — using default", am_name)
    if auto_mapper is not None:
        rules = auto_mapper(ctx, spec, df.columns, target_columns)
    else:
        rules = auto_map(spec, df.columns, target_columns)
    rules = reconcile(rules, df.columns)

    # 3. projection + rename + scalar transform chains (one select).
    # A mapping-level plugin (reference ``MappingRule.plugin`` — declared
    # in its dialect but never dispatched there) runs after the mapping's
    # transform chain; a source-less mapping (``source: null``) is only
    # legal with a resolvable plugin.
    dtypes = dict(df.dtypes)
    projected = []
    for r in rules:
        col_plugin = None
        if r.plugin:
            try:
                col_plugin = registry.get("column", r.plugin)
            except KeyError:
                logger.warning(
                    "mapping plugin %r not found — ignored "
                    "(declared-but-missing plugins are spec-by-name, SURVEY.md §2.6)",
                    r.plugin,
                )
        if r.source is None and col_plugin is None:
            raise ValueError(
                f"mapping for target {r.target!r} has no source column and no "
                f"resolvable plugin {r.plugin!r} — set 'source:' or register the plugin"
            )
        if (r.target or r.source) is None:
            raise ValueError(
                f"mapping with plugin {r.plugin!r} has neither 'target' nor "
                "'source' — the output column needs a name"
            )
        col = F.col(r.source) if r.source is not None else None
        if col is not None:
            col = apply_transform_chain(col, r.transform, dtypes.get(r.source, "string"))
        if col_plugin is not None:
            col = col_plugin(col, ctx, r)
        projected.append(col.alias(r.target or r.source))
    if spec.lineage:
        # lineage columns ride through the mapping projection verbatim
        # (auto-mapped specs may already mirror them — don't duplicate)
        have = {r.target or r.source for r in rules}
        projected += [
            F.col(c) for c in ("_source_file", "_load_id") if c not in have
        ]
    df = df.select(*projected)

    # table-level transform plugins (global + local chain; override flag
    # discards the global chain — ``pipeline.py:58-61``)
    for name in _transform_plugin_chain(g, spec):
        try:
            plugin = registry.get("transform", name)
        except KeyError:
            logger.warning("transform plugin %r not found — skipped "
                           "(declared-but-missing plugins are spec-by-name, SURVEY.md §2.6)", name)
            continue
        df = plugin(df, ctx)

    # 4. lookups: classify external vs self (``default_lookup.py:30-42``).
    # A mapping without an explicit target outputs under its source name
    # (the line-335 alias) — lookups/validations must address the SAME
    # resolved name, not the raw (possibly None) target.
    self_rules: list[MappingSpec] = []
    for r in rules:
        if not r.lookup:
            continue
        if r.lookup.table == spec.target_table:
            self_rules.append(r)
        else:
            dim = ctx.lookup_table(r.lookup)
            df = external_lookup(
                df,
                r.target or r.source,
                r.lookup,
                dim,
                eager_errors=not (ctx.explain_only or streaming),
            )

    # 5. validations (on target columns, after lookups)
    vrules = [
        (r.target or r.source, v)
        for r in rules
        if r.validation
        for v in r.validation
    ]
    vmetrics: list = []
    df, checks = apply_validations(
        df,
        vrules,
        lookup_resolver=ctx.lookup_table,
        error_mode="collect",
        # Observation accumulators don't exist for streaming datasets —
        # a streaming table skips per-rule counters (policies still apply)
        metrics_out=None if streaming else vmetrics,
        eager_lookup_errors=not (ctx.explain_only or streaming),
    )

    # 5b. table-level validation plugins (reference ValidationPlugin,
    # ``plugin_interfaces/validation_interface.py:7-22``, resolved per
    # table at ``pipeline.py:62``) — run after rule-driven validations,
    # mirroring the transform-plugin chain precedence.
    for name in _validation_plugin_chain(g, spec):
        try:
            vplugin = registry.get("validation", name)
        except KeyError:
            logger.warning("validation plugin %r not found — skipped", name)
            continue
        df = vplugin(df, ctx)

    # 5c'. split off quarantined rows (on_fail: quarantine) BEFORE dedup
    # and self-lookups: rejects are audit rows, not pipeline rows.
    # The tagged frame is lazily checkpointed first so the clean write
    # and the quarantine write consume ONE materialization — without it
    # the two sinks would re-scan the source at different times (2x
    # cost, and a moving source could put a row in neither/both outputs)
    from .operators.validations import QUARANTINE_COL

    if QUARANTINE_COL in df.columns:
        df = _lazy_checkpoint(ctx, df)
    df, quarantine_df = split_quarantine(df)

    # 5b². declarative embedding-column normalization (engine
    # extension) — BEFORE dedup so `dedup.method: semantic` measures
    # the normalized space. l2_normalize is a pure per-row expression;
    # whiten/abtt collect corpus stats (bounded driver probes) and
    # inline them as literals into one zero-shuffle projection.
    if spec.vector_transform is not None:
        vt = spec.vector_transform
        if vt.vector_column not in df.columns:
            raise ValueError(
                f"{spec.source_table}: vector_transform column "
                f"{vt.vector_column!r} not in pipeline output {df.columns}"
            )
        vt_out = vt.output_column or vt.vector_column
        if vt.output_column and vt.output_column in df.columns:
            raise ValueError(
                f"{spec.source_table}: vector_transform output_column "
                f"{vt.output_column!r} already in the pipeline — rename "
                "it or omit output_column to rewrite in place"
            )
        if vt.method == "l2_normalize":
            from .operators.similarity import l2_normalize

            df = df.withColumn(vt_out, l2_normalize(F.col(vt.vector_column)))
        elif ctx.explain_only:
            # whiten/abtt stats are eager corpus aggregates — running
            # them would break --explain's "nothing executes" promise
            # (same contract as the near-dup dedup stage below). The
            # output column still has to EXIST in the reviewed plan:
            # later stages (e.g. dedup.method: semantic on vt_out) and
            # the compiler's own column validation reference it, and a
            # missing column would fail plan review of a valid spec.
            # Stub it with a schema-preserving identity projection.
            logger.warning(
                "%s: plan review omits the %s vector_transform stage "
                "(its stats collect eagerly; the real run applies it; "
                "the reviewed plan carries %r as an identity placeholder)",
                spec.source_table,
                vt.method,
                vt_out,
            )
            df = df.withColumn(
                vt_out, F.col(vt.vector_column).cast("array<double>")
            )
        elif vt.method == "whiten":
            from .operators.similarity import whiten_expr, whiten_stats

            stats = whiten_stats(df, vt.vector_column)
            if not stats:
                raise ValueError(
                    f"{spec.source_table}: vector_transform whiten found "
                    f"no non-null vectors in {vt.vector_column!r}"
                )
            df = df.withColumn(
                vt_out, whiten_expr(F.col(vt.vector_column), stats)
            )
        else:  # abtt (spec validator guarantees the method set)
            from .operators.similarity import (
                abtt_expr,
                dim_stats,
                pca_power,
            )

            mu = {
                int(r["dim"]): float(r["mean"])
                for r in dim_stats(df, vt.vector_column).collect()
            }
            if not mu:
                raise ValueError(
                    f"{spec.source_table}: vector_transform abtt found "
                    f"no non-null vectors in {vt.vector_column!r}"
                )
            comp = pca_power(df, vt.vector_column, means=mu).collect()
            loadings = {int(r["dim"]): float(r["loading"]) for r in comp}
            df = df.withColumn(
                vt_out, abtt_expr(F.col(vt.vector_column), mu, loadings)
            )

    # 5c. declarative dedup of the outgoing rows (engine extension,
    # SURVEY.md §2.11) — after transforms/validations so the key is the
    # FINAL shape, before self-lookups so the join sees the survivor
    # stream. One shuffle on the dedup key; the row_number()<=1 filter
    # compiles to WindowGroupLimit (map-side partial top-1 per key).
    if spec.dedup is not None and not streaming:
        if (
            spec.dedup.method in ("minhash", "semantic", "semdedup", "soft")
            and ctx.explain_only
        ):
            # near-dup dedup is EAGER (checkpointed pair mining +
            # iterative clustering) — running it would break --explain's
            # "nothing executes" promise; the reviewed plan shows the
            # pipeline without the near-dup filter, noted loudly
            logger.warning(
                "%s: plan review omits the %s near-dup dedup stage "
                "(it executes eagerly; the real run applies it)",
                spec.source_table,
                spec.dedup.method,
            )
        else:
            if (
                spec.lineage
                and spec.dedup.method == "exact"
                and spec.dedup.columns is None
            ):
                raise ValueError(
                    f"{spec.source_table}: lineage: true breaks full-row "
                    "DISTINCT dedup (every row differs in _source_file) — "
                    "name the dedup key columns or drop one of the two"
                )
            df = _apply_dedup(ctx, df, spec)

    # 5d. declarative curation: per-group sampling, then the split
    # label (both pure hash projections — zero shuffles; distinct seeds
    # keep sample and split uncorrelated)
    quality_rejects = None
    decontam_rejects = None
    if spec.rewrite is not None:
        rw = spec.rewrite
        if rw.text_column not in df.columns:
            raise ValueError(
                f"{spec.source_table}: rewrite.text_column "
                f"{rw.text_column!r} not in pipeline output {df.columns}"
            )
        if rw.method == "scrub":
            from .operators.text import scrub_text

            df = df.withColumn(rw.text_column, scrub_text(F.col(rw.text_column)))
        elif rw.method == "intradoc_spans":
            # within-document repeat collapse: a pure in-row expression
            # (no join, no shuffle); zero-token rows keep their text.
            # __rw_segs is staged as a REAL column (referenced twice:
            # filter input + inside the lambda) so Catalyst cannot
            # re-inline the tokenize+segment pipeline into the
            # first-occurrence lambda and re-run it per element
            from .operators.dedup import (
                _first_occurrence_segments,
                _span_segments,
            )

            from .functions import tokens as _tokens

            tk = F.coalesce(
                _tokens(F.col(rw.text_column)), F.array().cast("array<string>")
            )
            df = (
                df.withColumn(
                    "__rw_segs", _span_segments(tk, rw.span_tokens)
                )
                .withColumn(
                    rw.text_column,
                    F.when(
                        F.size("__rw_segs") == 0, F.col(rw.text_column)
                    ).otherwise(
                        F.array_join(
                            _first_occurrence_segments(F.col("__rw_segs")),
                            " ",
                        )
                    ),
                )
                .drop("__rw_segs")
            )
        else:  # repeated_spans
            from .operators.dedup import (
                repeated_span_dedup,
                repeated_span_dedup_strided,
            )

            if rw.id_column not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: rewrite.id_column "
                    f"{rw.id_column!r} not in pipeline output {df.columns}"
                )
            proj = df.select(rw.id_column, rw.text_column)
            if rw.stride is not None and rw.stride < rw.span_tokens:
                rewritten = repeated_span_dedup_strided(
                    proj, rw.text_column, rw.id_column,
                    span_tokens=rw.span_tokens, stride=rw.stride,
                    min_docs=rw.min_docs,
                )
            else:
                rewritten = repeated_span_dedup(
                    proj, rw.text_column, rw.id_column,
                    span_tokens=rw.span_tokens, min_docs=rw.min_docs,
                )
            # replace the text column via ONE id-keyed LEFT join (the span
            # op only carries id+text — the rest of the row never enters
            # its shuffles). LEFT + coalesce: zero-token docs (NULL or
            # punctuation-only text) are absent from the span op's output
            # — they had nothing to rewrite and must keep their original
            # text, not vanish from the table (review finding r5)
            df = df.join(
                rewritten.select(rw.id_column, "new_text"), rw.id_column, "left"
            ).withColumn(
                rw.text_column,
                F.coalesce(F.col("new_text"), F.col(rw.text_column)),
            ).drop("new_text")

    if spec.decontaminate is not None:
        dc = spec.decontaminate
        # per-method payload column: text for the n-gram/minhash
        # checks, the embedding for the semantic check
        if dc.method == "semantic":
            if not dc.vector_column:
                raise ValueError(
                    f"{spec.source_table}: decontaminate method=semantic "
                    "requires vector_column"
                )
            payload, b_payload = (
                dc.vector_column,
                dc.benchmark_vector_column or dc.vector_column,
            )
        elif dc.pairs_table:
            # with a persisted pair table the text is never read — only
            # ids are needed to mount/filter/anti-join (mirror of the
            # dedup pairs_table contract), so a text_column left over
            # from an inline-mining spec is IGNORED rather than
            # validated against pipelines/benchmarks that may carry no
            # text at all (e.g. an ids-only eval manifest)
            payload, b_payload = None, None
        else:
            if not dc.text_column:
                raise ValueError(
                    f"{spec.source_table}: decontaminate method="
                    f"{dc.method} requires text_column"
                )
            payload, b_payload = (
                dc.text_column,
                dc.benchmark_text_column or dc.text_column,
            )
        for c in (dc.id_column, payload):
            if c is not None and c not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: decontaminate column {c!r} "
                    f"not in pipeline output {df.columns}"
                )
        from .operators.dedup import ngram_overlap_pairs

        bench = resolve_source(
            ctx.spark,
            ctx.global_spec.connectors,
            dc.benchmark_table,
            spec.source_schema,
            allow_probes=not ctx.explain_only,
        )
        if dc.benchmark_where:
            bench = bench.filter(F.expr(dc.benchmark_where))
        if b_payload is not None and b_payload not in bench.columns:
            raise ValueError(
                f"{spec.source_table}: decontaminate benchmark column "
                f"{b_payload!r} not in {dc.benchmark_table} {bench.columns}"
            )
        if dc.benchmark_id_column:
            b_id = dc.benchmark_id_column
        else:
            b_id = "__bench_id"
            bench = bench.withColumn(b_id, F.monotonically_increasing_id())
        if payload is not None:
            train_side = df.select(
                F.col(dc.id_column).alias("__did"),
                F.col(payload).alias("__dtx"),
            )
            bench_side = bench.select(
                F.col(b_id).alias("__did"), F.col(b_payload).alias("__dtx")
            )
        # flagged id set: one row per contaminated pipeline row. Lazily
        # checkpointed — BOTH consumers (anti-join keep, audit join) must
        # see the same membership even over a moving source
        if dc.method == "minhash":
            if dc.pairs_table:
                # mount the PERSISTED near-dup pair layout instead of
                # re-shingling either corpus (the decontaminate twin of
                # DedupSpec.pairs_table, VERDICT r8 ask #6): a
                # dedup+decontaminate job pays ONE banded join. The
                # layout is UNDIRECTED (minhash_near_dups emits
                # id_i < id_j), so both orientations are considered
                # before the endpoint semi-joins re-derive sidedness —
                # id_i against the pipeline's ids, id_j against the
                # (where-filtered) benchmark ids. Pairs below this
                # consumer's threshold re-filter on mount, so one
                # low-threshold pair table serves stricter gates.
                mounted = _mount_pairs_table(
                    ctx,
                    dc.pairs_table,
                    owner=spec.source_table,
                    kind="decontaminate",
                    required={"id_i", "id_j", "jaccard"},
                    layout_msg=(
                        "persist the minhash_near_dups layout "
                        "(id_i, id_j, jaccard); jaccard is required "
                        "here (the _max_jaccard audit column and "
                        "threshold re-filter need it)"
                    ),
                )
                und = mounted.select("id_i", "id_j", "jaccard").where(
                    F.col("jaccard") >= F.lit(dc.threshold)
                )
                sym = und.unionByName(
                    und.select(
                        F.col("id_j").alias("id_i"),
                        F.col("id_i").alias("id_j"),
                        F.col("jaccard"),
                    )
                )
                # benchmark side FIRST: eval suites are small, so the
                # id_j semi-join (broadcastable) collapses the
                # corpus-wide pair set to benchmark-adjacent edges
                # before the expensive id_i semi-join against the
                # full pipeline id set — at 100 TB the second join
                # then carries only flagged-candidate edges
                pairs = sym.join(
                    bench.select(F.col(b_id).alias("id_j")),
                    "id_j",
                    "left_semi",
                ).join(
                    df.select(F.col(dc.id_column).alias("id_i")),
                    "id_i",
                    "left_semi",
                )
            else:
                # near-dup contamination: cross-corpus LSH band join,
                # exact Jaccard verified — catches reworded benchmark
                # copies
                from .operators.dedup import minhash_join

                pairs = minhash_join(
                    train_side,
                    bench_side,
                    "__did",
                    "__dtx",
                    shingle_n=dc.shingle_n,
                    num_hashes=dc.num_hashes,
                    bands=dc.bands,
                    threshold=dc.threshold,
                    # explain-only compiles must not run checkpoint jobs
                    eager=not ctx.explain_only,
                )
            flagged = pairs.groupBy(F.col("id_i").alias(dc.id_column)).agg(
                F.count("*").cast("long").alias("_matched_benchmark_docs"),
                F.round(F.max("jaccard"), 6).alias("_max_jaccard"),
            )
        elif dc.method == "semantic":
            # embedding-space contamination: exact cosine vs the
            # broadcast (size-guarded) benchmark vectors — the
            # paraphrase catch; threshold is a COSINE here
            from .operators.similarity import semantic_contamination

            flagged = semantic_contamination(
                train_side,
                bench_side,
                corpus_id="__did",
                bench_id="__did",
                corpus_vec="__dtx",
                bench_vec="__dtx",
                threshold=dc.threshold,
                # explain-only compiles must not run the guard's count
                broadcast_limit=None if ctx.explain_only else dc.broadcast_limit,
            ).select(
                F.col("__did").alias(dc.id_column),
                F.col("n_matches").alias("_matched_benchmark_docs"),
                F.col("max_cosine").alias("_max_cosine"),
            )
        elif dc.method == "ngram":
            pairs = ngram_overlap_pairs(
                train_side,
                bench_side,
                "__did",
                "__dtx",
                n=dc.ngram,
                min_shared=dc.min_shared,
                # explain-only compiles must not run the guard's count job
                broadcast_limit=None if ctx.explain_only else dc.broadcast_limit,
                # the Bloom prescreen collects its word array at
                # plan-build — under --explain fall back to the
                # (unguarded) broadcast shape; the real run prescreens
                bench_join=(
                    "broadcast" if ctx.explain_only else dc.bench_join
                ),
                bloom_m_bits=dc.bloom_m_bits,
            )
            flagged = pairs.groupBy(F.col("train_id").alias(dc.id_column)).agg(
                F.count("*").cast("long").alias("_matched_benchmark_docs"),
                F.sum("shared_ngrams").cast("long").alias("_shared_ngrams"),
            )
        else:
            raise ValueError(
                f"{spec.source_table}: decontaminate method must be "
                f"ngram, minhash, or semantic, not {dc.method!r}"
            )
        flagged = _lazy_checkpoint(ctx, flagged)
        # flagged ids are bounded by the benchmark's gram coverage (eval
        # suites are MBs) — broadcast, so the pipeline frame keeps its
        # partitioning instead of shuffling into a sort-merge anti join.
        # Same loud-failure cap as the gram postings: nothing bounds the
        # flagged count if the corpus is pervasively contaminated, and
        # the guard's count() doubles as the checkpoint materializer
        # (both consumers below then reuse the checkpointed rows).
        if not ctx.explain_only:
            from .operators.similarity import _guard_broadcast_side

            _guard_broadcast_side(
                flagged, dc.id_column, dc.broadcast_limit,
                "decontaminate.flagged",
            )
        if dc.reject_table:
            decontam_rejects = df.join(F.broadcast(flagged), dc.id_column)
        df = df.join(
            F.broadcast(flagged.select(dc.id_column)), dc.id_column, "left_anti"
        )

    if spec.quality_filter is not None:
        qf = spec.quality_filter
        if qf.text_column not in df.columns:
            raise ValueError(
                f"{spec.source_table}: quality_filter.text_column "
                f"{qf.text_column!r} not in pipeline output {df.columns}"
            )
        if "_quality" in df.columns:
            raise ValueError(
                f"{spec.source_table}: pipeline output already has a "
                "'_quality' column — rename it or drop quality_filter"
            )
        from .functions import tokens
        from .operators.text import hashed_linear_expr, quality_expr

        # pure projection + filter — no join, no shuffle. NULL text
        # scores NULL → null-safe split so such rows are AUDITED as
        # rejects, never silently lost from both branches.
        tk_col = None
        if qf.method == "gopher":
            # hard boolean gate: all 7 rules must pass. No score, so the
            # min_quality / top_fraction machinery below never runs
            # (top_fraction+gopher is rejected at spec validation).
            from .operators.text import gopher_failed_expr, gopher_rule_conds

            names = {}
            for base_name in ("_qg_text", "_qg_tokens", "_qg_lines", "_qg_failed"):
                c = base_name
                while c in df.columns:
                    c = "_" + c
                names[base_name] = c
            t_expr = F.coalesce(F.col(qf.text_column), F.lit(""))
            # stage text/token/line arrays as real columns: expressions
            # inlined into higher-order lambdas re-evaluate per element
            staged = (
                df.withColumn(names["_qg_text"], t_expr)
                .withColumn(names["_qg_tokens"], tokens(t_expr))
                .withColumn(names["_qg_lines"], F.split(t_expr, "\n"))
            )
            rules = gopher_rule_conds(
                F.col(names["_qg_text"]),
                F.col(names["_qg_tokens"]),
                F.col(names["_qg_lines"]),
            )
            staged = staged.withColumn(
                names["_qg_failed"], gopher_failed_expr(rules)
            )
            keep_cond = F.size(F.col(names["_qg_failed"])) == 0
            work_cols = [names[b] for b in ("_qg_text", "_qg_tokens", "_qg_lines")]
            if qf.reject_table:
                # one lazy materialization feeds BOTH sinks (same
                # rationale as the score-gate split below)
                staged = _lazy_checkpoint(ctx, staged)
                quality_rejects = (
                    staged.filter(~keep_cond)
                    .withColumn(
                        "_failed_rules",
                        F.array_join(F.col(names["_qg_failed"]), ","),
                    )
                    .drop(*work_cols, names["_qg_failed"])
                )
            df = staged.filter(keep_cond).drop(*work_cols, names["_qg_failed"])
            q = None
        elif qf.method == "classifier":
            # stage the token array ONCE in a temp column so the
            # classifier's size guard / fold / denominator are plain
            # column references, not three inlined tokenizer splits
            # re-evaluated per row (ADVICE r4 #3)
            tk_col = "_qc_tokens"
            while tk_col in df.columns:
                tk_col = "_" + tk_col
            df = df.withColumn(tk_col, tokens(F.col(qf.text_column)))
            q = hashed_linear_expr(
                tk_col,
                pre_tokenized=True,
                n_features=qf.n_features,
                bias=qf.bias,
                weights=qf.weights,
            )
        elif qf.method == "nb":
            # trained Naive Bayes gate: categorical + margin, so like
            # gopher the min_quality/top_fraction machinery never runs
            # (spec validation pins that). The model mounts through the
            # connectors (the centroids_table pattern); scoring is the
            # broadcast-join token-stream shape of nb_score, and the
            # verdict joins back as an ids-only semi/anti join —
            # token-less rows never earn a verdict row, so they land
            # with the rejects (no evidence, no keep).
            from .operators.text import nb_score

            for c in (qf.id_column, qf.text_column):
                if c not in df.columns:
                    raise ValueError(
                        f"{spec.source_table}: quality_filter column "
                        f"{c!r} not in pipeline output {df.columns}"
                    )
            model = _mount_pairs_table(
                ctx,
                qf.nb_model_table,
                owner=spec.source_table,
                kind="quality_filter",
                required={"label", "token", "log_lik"},
                layout_msg=(
                    "persist nb_train's model frame "
                    "(label, token, log_lik)"
                ),
                field="nb_model_table",
            )
            priors = _mount_pairs_table(
                ctx,
                qf.nb_priors_table,
                owner=spec.source_table,
                kind="quality_filter",
                required={"label", "log_prior", "log_unseen"},
                layout_msg=(
                    "persist nb_train's priors frame "
                    "(label, log_prior, log_unseen, …)"
                ),
                field="nb_priors_table",
            )
            if not ctx.explain_only:
                # keep_labels must exist in the mounted model: a typo'd
                # label ('EN' vs 'en') would otherwise keep ZERO rows
                # with no error — the silent-empty-table class the
                # mount validations exist to refuse. Bounded probe:
                # priors is label-sized by construction. Skipped under
                # --explain (a collect would break its nothing-executes
                # promise; the real run validates).
                avail = {
                    r["label"]
                    for r in priors.select("label").distinct().limit(
                        10_000
                    ).collect()
                }
                unknown = sorted(set(qf.keep_labels) - avail)
                if unknown:
                    raise ValueError(
                        f"{spec.source_table}: quality_filter keep_labels "
                        f"{unknown} not in the mounted model's labels "
                        f"{sorted(avail)} — fix the labels or retrain"
                    )
            base = _lazy_checkpoint(ctx, df) if qf.reject_table else df
            scored = nb_score(
                base.select(qf.id_column, qf.text_column),
                qf.id_column,
                qf.text_column,
                model,
                priors,
                # the guard's bounded count is an eager action —
                # --explain's nothing-executes promise skips it (the
                # real run keeps the loud failure)
                broadcast_limit=None if ctx.explain_only else 5_000_000,
            )
            good = scored.where(
                F.col("predicted").isin(list(qf.keep_labels))
                & (F.col("margin") >= float(qf.min_margin))
            ).select(qf.id_column)
            if qf.reject_table:
                quality_rejects = base.join(good, qf.id_column, "left_anti")
            df = base.join(good, qf.id_column, "left_semi")
            q = None
        elif qf.method == "ccnet":
            # CCNet per-language perplexity gate: the one scoring method
            # that costs a corpus aggregate (unigram_logprob's two
            # word-count shuffles) plus an id-keyed join back — spec
            # validation already pinned top_fraction (+id/group columns)
            # so the adaptive rank gate below consumes the score, and
            # the streaming gate refuses it via the top_fraction rule.
            from .operators.text import unigram_logprob

            for c in (qf.id_column, qf.text_column):
                if c not in df.columns:
                    raise ValueError(
                        f"{spec.source_table}: quality_filter column "
                        f"{c!r} not in pipeline output {df.columns}"
                    )
            tk_col = "_qf_ppl"
            while tk_col in df.columns:
                tk_col = "_" + tk_col
            lp = unigram_logprob(
                df.select(qf.id_column, qf.text_column),
                qf.text_column,
                qf.id_column,
            ).select(qf.id_column, F.col("ppl_proxy").alias(tk_col))
            # left join: zero-token rows carry NULL score → audited
            # rejects under the rank gate's explicit NULL rejection
            df = df.join(lp, qf.id_column, "left")
            # NEGATIVE perplexity: the rank gate keeps the HIGHEST
            # scores, CCNet keeps the LOWEST perplexity
            q = -F.col(tk_col)
        else:
            q = F.round(quality_expr(F.col(qf.text_column)), 6)
        if qf.top_fraction is not None:
            # per-group ADAPTIVE policy: rank gate over the staged score
            # (curation.keep_top_fraction semantics, inlined so the
            # reject branch can negate the SAME window columns instead
            # of paying an anti-join). One group-keyed window shuffle —
            # the price the adaptive policy fundamentally needs.
            from pyspark.sql import Window

            for c in (qf.id_column, qf.group_column):
                if c not in df.columns:
                    raise ValueError(
                        f"{spec.source_table}: quality_filter column "
                        f"{c!r} not in pipeline output {df.columns}"
                    )
            f_pm = int(round(qf.top_fraction * 1000))
            tagged = df.withColumn("_quality", q)
            if tk_col is not None:
                tagged = tagged.drop(tk_col)
            wg = Window.partitionBy(qf.group_column)
            wo = wg.orderBy(F.col("_quality").desc(), F.col(qf.id_column))
            tagged = tagged.withColumn("__qrn", F.row_number().over(wo)).withColumn(
                "__qn", F.count(F.lit(1)).over(wg)
            )
            if qf.reject_table:
                # two consumers (kept + rejects) — one lazy materialization
                # so both read the same snapshot; single-consumer plans
                # skip the executor-storage pin entirely
                tagged = _lazy_checkpoint(ctx, tagged)
            # rn*1000 <= n*f_pm + 999 in pure int64 (ceil quota, no float
            # drift); NULL scores sort last AND are explicitly rejected
            keep_cond = F.col("_quality").isNotNull() & (
                F.col("__qrn") * 1000 <= F.col("__qn") * f_pm + 999
            )
            if qf.reject_table:
                quality_rejects = tagged.filter(~keep_cond).drop("__qrn", "__qn")
            df = tagged.filter(keep_cond).drop("_quality", "__qrn", "__qn")
            q = None  # consumed; the absolute-bar branches below must not run
        if q is None:
            pass
        elif qf.reject_table:
            # one lazy materialization feeds BOTH sinks (same rationale
            # as the quarantine split above: two actions re-scanning a
            # moving source could put a row in neither/both outputs)
            tagged = df.withColumn("_quality", q)
            if tk_col is not None:
                tagged = tagged.drop(tk_col)
            tagged = _lazy_checkpoint(ctx, tagged)
            quality_rejects = tagged.filter(
                ~F.coalesce(F.col("_quality") >= qf.min_quality, F.lit(False))
            )
            df = tagged.filter(
                F.coalesce(F.col("_quality") >= qf.min_quality, F.lit(False))
            ).drop("_quality")
        else:
            df = df.filter(F.coalesce(q >= qf.min_quality, F.lit(False)))
            if tk_col is not None:
                df = df.drop(tk_col)

    if spec.sample is not None:
        smp = spec.sample
        needed = [smp.id_column] + (
            [smp.group_column]
            if smp.method in ("rates", "temperature", "epochs", "cap")
            else [smp.weight_column] if smp.method == "priority"
            else [smp.group_column, smp.text_column]
            if smp.method in ("token_budget", "unimax")
            else [smp.group_column, smp.loss_column]
            if smp.method == "doremi"
            else [smp.group_column, smp.loss_column, smp.text_column]
            if smp.method == "doremi_tokens"
            else []
        )
        for c in needed:
            if c not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: sample column {c!r} not in "
                    f"pipeline output {df.columns}"
                )
        if smp.method == "rates":
            from .operators.curation import weighted_sample

            df = weighted_sample(
                df,
                smp.id_column,
                smp.group_column,
                dict(smp.rates),
                seed=smp.seed,
                default_rate=smp.default_rate,
            )
        elif smp.method == "exact_n":
            from .operators.curation import sample_n

            df = sample_n(df, smp.id_column, int(smp.n), seed=smp.seed)
        elif smp.method == "token_budget":
            from .operators.curation import token_budget_sample

            if "n_tokens" in df.columns:
                raise ValueError(
                    f"{spec.source_table}: token_budget sampling adds an "
                    "'n_tokens' column but the pipeline already has one — "
                    "rename it or use a rates sample"
                )
            df = token_budget_sample(
                df,
                smp.text_column,
                smp.id_column,
                smp.group_column,
                int(smp.budget_tokens),
                seed=smp.seed,
            )
        elif smp.method == "unimax":
            from .operators.curation import unimax_sample

            clash = {"n_tokens", "target_epochs"} & set(df.columns)
            if clash:
                raise ValueError(
                    f"{spec.source_table}: unimax sampling adds "
                    f"{sorted(clash)} but the pipeline already has them — "
                    "rename those columns or use another method"
                )
            df = unimax_sample(
                df,
                smp.text_column,
                smp.id_column,
                smp.group_column,
                total_budget=int(smp.budget_tokens),
                max_epochs=int(smp.max_epochs),
                seed=smp.seed,
            )
        elif smp.method == "doremi":
            from .operators.curation import doremi_sample

            # doremi_sample re-checks this for direct callers, but the
            # compiler must ALSO check: the explain branch below stubs
            # the two columns with withColumn, which would silently
            # SHADOW clashing pipeline columns and pass plan review of
            # a spec the real run refuses
            clash = {"domain_weight", "target_rows"} & set(df.columns)
            if clash:
                raise ValueError(
                    f"{spec.source_table}: doremi sampling adds "
                    f"{sorted(clash)} but the pipeline already has them — "
                    "rename those columns or use another method"
                )
            if ctx.explain_only:
                # the MW weights collect a domains-row aggregate at
                # compile time — skip under --explain, but stub the
                # added columns so later stages and column validation
                # stay truthful (the vector_transform placeholder rule)
                logger.warning(
                    "%s: plan review omits the doremi sample stage "
                    "(its domain weights collect eagerly; the real run "
                    "applies it; domain_weight/target_rows are stubbed)",
                    spec.source_table,
                )
                df = df.withColumn(
                    "domain_weight", F.lit(None).cast("double")
                ).withColumn("target_rows", F.lit(None).cast("long"))
            else:
                df = doremi_sample(
                    df,
                    smp.id_column,
                    smp.group_column,
                    smp.loss_column,
                    budget_rows=int(smp.budget_rows),
                    eta=float(smp.eta),
                    seed=smp.seed,
                )
        elif smp.method == "doremi_tokens":
            from .operators.curation import doremi_token_sample

            # same contract as the row twin: the operator re-checks,
            # but the explain stub below would silently shadow clashes
            clash = {"n_tokens", "domain_weight", "target_tokens"} & set(
                df.columns
            )
            if clash:
                raise ValueError(
                    f"{spec.source_table}: doremi_tokens sampling adds "
                    f"{sorted(clash)} but the pipeline already has them — "
                    "rename those columns or use another method"
                )
            if ctx.explain_only:
                logger.warning(
                    "%s: plan review omits the doremi_tokens sample stage "
                    "(its domain weights collect eagerly; the real run "
                    "applies it; n_tokens/domain_weight/target_tokens are "
                    "stubbed)",
                    spec.source_table,
                )
                df = (
                    df.withColumn("n_tokens", F.lit(None).cast("long"))
                    .withColumn("domain_weight", F.lit(None).cast("double"))
                    .withColumn("target_tokens", F.lit(None).cast("long"))
                )
            else:
                df = doremi_token_sample(
                    df,
                    smp.text_column,
                    smp.id_column,
                    smp.group_column,
                    smp.loss_column,
                    budget_tokens=int(smp.budget_tokens),
                    eta=float(smp.eta),
                    seed=smp.seed,
                )
        elif smp.method == "epochs":
            from .operators.curation import epoch_mix

            if "epoch" in df.columns:
                raise ValueError(
                    f"{spec.source_table}: epochs sampling adds an 'epoch' "
                    "column but the pipeline already has one — rename it "
                    "or use a rates sample"
                )
            df = epoch_mix(
                df,
                smp.id_column,
                smp.group_column,
                epochs={k: float(v) for k, v in smp.epochs.items()},
                default_epochs=float(smp.default_epochs),
                seed=smp.seed,
            )
        elif smp.method == "temperature":
            from .operators.curation import temperature_mix

            df = temperature_mix(
                df,
                smp.id_column,
                smp.group_column,
                budget_rows=int(smp.budget_rows),
                alpha=float(smp.alpha),
                seed=smp.seed,
            )
        elif smp.method == "cap":
            from .operators.curation import cap_per_group

            df = cap_per_group(
                df, smp.id_column, smp.group_column, int(smp.cap), seed=smp.seed
            )
        else:  # priority
            from .operators.curation import priority_sample

            df = priority_sample(
                df, smp.id_column, smp.weight_column, int(smp.n), seed=smp.seed
            )
    if spec.split is not None:
        from .operators.curation import hash_split

        spl = spec.split
        if spl.id_column not in df.columns:
            raise ValueError(
                f"{spec.source_table}: split id_column {spl.id_column!r} "
                f"not in pipeline output {df.columns}"
            )
        # refuse to clobber pipeline columns with the stage's own names —
        # but only the names THIS branch actually stages: k-fold touches
        # 'fold' + column_name, the labeled split 'bucket'/'split' +
        # column_name (review finding r5: a pipeline column named 'split'
        # must not block a k-fold spec that never stages it)
        staged = (
            {"fold", spl.column_name}
            if spl.folds is not None
            else {"bucket", "split", spl.column_name}
        )
        clash = staged & set(df.columns)
        if clash:
            raise ValueError(
                f"{spec.source_table}: split stage would overwrite pipeline "
                f"column(s) {sorted(clash)} — rename them or pick another "
                "split column_name"
            )
        if spl.folds is not None:
            from .operators.curation import hash_kfold

            df = hash_kfold(df, spl.id_column, k=int(spl.folds), seed=spl.seed)
            if spl.column_name != "fold":
                df = df.withColumnRenamed("fold", spl.column_name)
        else:
            df = hash_split(
                df, spl.id_column, weights=spl.weights, seed=spl.seed
            ).drop("bucket")
            if spl.column_name != "split":
                df = df.withColumnRenamed("split", spl.column_name)

    # 5e. declarative curriculum schedule — LAST of the curation stages
    # so the indices are dense over exactly the rows that ship
    if spec.curriculum is not None:
        from .operators.curation import curriculum_order

        cur = spec.curriculum
        if cur.id_column not in df.columns:
            raise ValueError(
                f"{spec.source_table}: curriculum id_column "
                f"{cur.id_column!r} not in pipeline output {df.columns}"
            )
        clash = {"curriculum_idx", "phase"} & set(df.columns)
        if clash:
            raise ValueError(
                f"{spec.source_table}: curriculum stage would overwrite "
                f"pipeline column(s) {sorted(clash)} — rename them"
            )
        if cur.score_column is not None:
            if cur.score_column not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: curriculum score_column "
                    f"{cur.score_column!r} not in pipeline output {df.columns}"
                )
            df = curriculum_order(
                df, cur.id_column, cur.score_column,
                phases=cur.phases, easy_first=cur.easy_first,
            )
        else:
            from .operators.text import quality_expr

            if cur.text_column not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: curriculum text_column "
                    f"{cur.text_column!r} not in pipeline output {df.columns}"
                )
            df = curriculum_order(
                df.withColumn(
                    "__cur_score",
                    F.round(quality_expr(F.col(cur.text_column)), 6),
                ),
                cur.id_column,
                "__cur_score",
                phases=cur.phases,
                easy_first=cur.easy_first,
            ).drop("__cur_score")

    if spec.augment is not None:
        au = spec.augment
        for c in (au.id_column, au.text_column):
            if c not in df.columns:
                raise ValueError(
                    f"{spec.source_table}: augment column {c!r} "
                    f"not in pipeline output {df.columns}"
                )
        for c in (au.input_column, au.target_column):
            if c in df.columns:
                raise ValueError(
                    f"{spec.source_table}: augment output column {c!r} "
                    "already in the pipeline output — rename it"
                )
        if au.method == "fim":
            from .operators.text import fim_exprs

            applied, prefix, middle, suffix = fim_exprs(
                F.col(au.id_column),
                F.col(au.text_column),
                rate_permille=au.rate_permille,
                seed=au.seed,
            )
            # PSM serialization: sentinels mirror span_corruption's
            # convention; non-applied rows train as plain AR (whole
            # text in, NULL target) — the paper's joint mix. In-row,
            # no join, no shuffle — streams per micro-batch unchanged.
            df = df.withColumn(
                au.input_column,
                F.when(
                    applied,
                    F.concat(
                        F.lit("<PRE>"), prefix,
                        F.lit("<SUF>"), suffix,
                        F.lit("<MID>"),
                    ),
                ).otherwise(
                    F.coalesce(F.col(au.text_column).cast("string"), F.lit(""))
                ),
            ).withColumn(au.target_column, F.when(applied, middle))
            return _finish_compile(
                spec, df, checks, incremental_commit, quarantine_df,
                quality_rejects, decontam_rejects, vmetrics, self_rules,
            )
        from .functions import tokens
        from .operators.dedup import _span_segments
        from .operators.text import span_corruption_exprs, span_mask_flags_expr

        names = {}
        for base_name in ("_au_tokens", "_au_segs", "_au_flags"):
            c = base_name
            while c in df.columns:
                c = "_" + c
            names[base_name] = c
        # in-row: stage token/segment/flag arrays, attach the sentinel
        # pair, drop the staging — no join, no shuffle (streams fine).
        # Zero-token rows keep NULL pair columns instead of vanishing.
        df = (
            df.withColumn(
                names["_au_tokens"],
                F.coalesce(
                    tokens(F.col(au.text_column)),
                    F.array().cast("array<string>"),
                ),
            )
            .withColumn(
                names["_au_segs"],
                _span_segments(F.col(names["_au_tokens"]), au.span_tokens),
            )
            .withColumn(
                names["_au_flags"],
                span_mask_flags_expr(
                    F.col(au.id_column),
                    F.col(names["_au_segs"]),
                    mask_permille=au.mask_permille,
                    seed=au.seed,
                ),
            )
        )
        inp, tgt = span_corruption_exprs(
            F.col(names["_au_segs"]), F.col(names["_au_flags"])
        )
        has_tokens = F.size(names["_au_tokens"]) > 0
        df = (
            df.withColumn(au.input_column, F.when(has_tokens, inp))
            .withColumn(au.target_column, F.when(has_tokens, tgt))
            .drop(*names.values())
        )

    return _finish_compile(
        spec, df, checks, incremental_commit, quarantine_df,
        quality_rejects, decontam_rejects, vmetrics, self_rules,
    )


def _finish_compile(
    spec, df, checks, incremental_commit, quarantine_df,
    quality_rejects, decontam_rejects, vmetrics, self_rules,
) -> CompiledTable:
    """The shared compile tail (self-lookup resolution + CompiledTable
    assembly) — both augment-method branches end here, so the J2 stage
    and the result contract can never diverge between them."""
    # 6. self-lookup resolution (J2) — pre-write self-join
    for r in self_rules:
        df = self_lookup(df, r.target or r.source, r.lookup)

    # state: columns must resolve against the OUTGOING frame — checked
    # at compile time so --explain catches a drifted name before the
    # nightly run does (the quality_filter precedent)
    for st in spec.state_blocks:
        need = [*st.keys, st.value_column] + (
            [st.weight_column] if st.weight_column else []
        ) + list(st.carry)
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise ValueError(
                f"{spec.target_table}: state block column(s) {missing} "
                f"not in pipeline output {df.columns} — the state builds "
                "from the outgoing (target-side) rows; name target "
                "columns, not source ones"
            )
    if spec.state_blocks:
        state_dirs(spec)  # path-collision refusal at compile time

    return CompiledTable(
        spec=spec,
        df=df,
        error_checks=checks,
        incremental_commit=incremental_commit,
        quarantine=quarantine_df,
        quality_rejects=quality_rejects,
        decontam_rejects=decontam_rejects,
        validation_metrics=vmetrics,
    )


def _streaming_dedup(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Streaming half of ``TableSpec.dedup``. Fingerprint mode stages
    the md5 under the collision-safe ``__fp`` name (a real source
    column called ``fingerprint`` must survive) and NULL-text rows all
    pass through — Spark's dedup state would otherwise treat their NULL
    keys as equal and silently collapse unrelated rows, the exact
    contract the batch operator documents against."""
    from .operators.dedup import normalize_text
    from .streaming.dedup_stream import dedup_stream

    wm = spec.incremental.watermark_column
    if spec.dedup.method == "fingerprint":
        staged = df.withColumn(
            "__fp", F.md5(normalize_text(F.col(spec.dedup.text_column)))
        )
        deduped = dedup_stream(
            staged.filter(F.col("__fp").isNotNull()),
            ["__fp"],
            ts_col=wm,
            delay=spec.dedup.watermark_delay,
        )
        return deduped.unionByName(
            staged.filter(F.col("__fp").isNull())
        ).drop("__fp")
    return dedup_stream(
        df, list(spec.dedup.columns), ts_col=wm, delay=spec.dedup.watermark_delay
    )


def _assert_streaming_spec(ctx: JobContext, spec: TableSpec, fetcher) -> None:
    """``incremental.mode: streaming`` supports the subset of the spec
    whose stages are pure stream transformations: mappings, transforms,
    ``where``, static-dim lookups, filter-policy validations (null/
    skip/default), projection-only ``sample`` methods (rates/epochs) and
    ``split``. Everything that
    needs an eager action, a window over history, or a read-back of the
    target is refused LOUDLY here — silently ignoring the mode (the
    pre-round-4 behavior) ran a full batch reload instead of a stream."""
    errs = []
    if fetcher is not None:
        errs.append("custom fetcher plugins (batch-only)")
    if ctx.global_spec.connectors.source_files is None:
        errs.append("a files source connector is required (JDBC has no stream source)")
    d = spec.dedup
    if d is not None:
        if d.method in ("minhash", "semantic", "semdedup", "soft"):
            errs.append(
                f"dedup method={d.method} (iterative clustering is batch-only)"
            )
        elif d.method == "exact" and not d.columns:
            errs.append(
                "dedup method=exact on a stream needs explicit key columns "
                "(full-row DISTINCT has no bounded-state streaming form)"
            )
        elif d.method == "fingerprint" and not d.text_column:
            errs.append("dedup method=fingerprint needs text_column")
    if spec.scd2 is not None:
        errs.append("scd2 (reads back the target mid-plan)")
    if (
        spec.vector_transform is not None
        and spec.vector_transform.method in ("whiten", "abtt")
    ):
        errs.append(
            f"vector_transform method={spec.vector_transform.method} "
            "(corpus-stats collection is batch-only; l2_normalize streams)"
        )
    if spec.quality_filter is not None and spec.quality_filter.reject_table:
        errs.append(
            "quality_filter.reject_table (the audit sink needs a second "
            "eager write a stream doesn't have — drop reject_table to "
            "filter-only, or run in batch mode)"
        )
    if (
        spec.quality_filter is not None
        and spec.quality_filter.top_fraction is not None
    ):
        errs.append(
            "quality_filter.top_fraction (the per-group rank gate needs a "
            "window over the WHOLE group — unbounded state on a stream; "
            "use min_quality or batch mode)"
        )
    if (
        spec.quality_filter is not None
        and spec.quality_filter.method == "nb"
    ):
        errs.append(
            "quality_filter method=nb (the per-doc score is an "
            "aggregation over the exploded token stream plus a verdict "
            "join-back — batch-only; heuristic/classifier stream fine)"
        )
    if spec.rewrite is not None and spec.rewrite.method == "repeated_spans":
        errs.append(
            "rewrite method=repeated_spans (the hot-span set aggregates over "
            "the whole corpus — batch-only; method=scrub streams fine)"
        )
    if spec.decontaminate is not None:
        errs.append(
            "decontaminate (the n-gram pair aggregate + second eager "
            "audit write are batch-only)"
        )
    if spec.sample is not None and spec.sample.method not in ("rates", "epochs"):
        # rates/epochs are pure hash projections and stream fine; the
        # rest need global order, per-group rank, or corpus statistics —
        # per-micro-batch evaluation would be a silently DIFFERENT
        # semantic (a "global top-N per batch"), not an approximation
        errs.append(
            f"sample method={spec.sample.method} (needs global order / "
            "per-group rank / corpus stats — on a stream each micro-batch "
            "would be sampled independently; use rates/epochs or batch mode)"
        )
    if spec.curriculum is not None:
        errs.append(
            "curriculum (the global index needs a corpus-wide min/max "
            "pass + rank over ALL rows — unbounded state on a stream, "
            "and per-micro-batch indices would not be global; batch-only)"
        )
    if spec.split is not None and spec.split.folds is not None:
        pass  # hash k-fold is a pure projection — streams fine
    for r in spec.mappings or []:
        # the on_fail ladder treats None/'skip'/'default:*' as pure row
        # filters/rewrites; EVERYTHING else (explicit 'error', 'abort',
        # typos...) is fail-fast, which needs eager pre-write actions a
        # stream doesn't have — refuse rather than silently not failing
        for v in r.validation or []:
            if v.on_fail == "quarantine" or (
                v.on_fail is not None
                and v.on_fail != "skip"
                and not v.on_fail.startswith("default")
            ):
                errs.append(
                    f"validation on_fail={v.on_fail!r} on {r.source!r} "
                    "(needs eager actions / lazy checkpoints)"
                )
        # lookup on_missing defaults to 'error' (fail-fast): with eager
        # checks off, external_lookup would downgrade it to write-NULL —
        # silent data corruption, so require an explicit streamable policy
        if r.lookup is not None and (r.lookup.on_missing or "error") == "error":
            errs.append(
                f"lookup on {r.source!r} with on_missing=error (the "
                "default) — set null/skip/default:<v> explicitly for a "
                "stream, or run in batch mode"
            )
    if spec.write_mode != "append":
        errs.append("write_mode must be 'append' (each micro-batch appends)")
    if errs:
        raise ValueError(
            f"{spec.target_table}: incremental.mode=streaming cannot compile: "
            + "; ".join(errs)
        )


def _streaming_scan(ctx: JobContext, spec: TableSpec) -> DataFrame:
    """File-landing stream of the source table directory: schema pinned
    from a one-off batch read (file streams require an explicit schema),
    then ``readStream`` over the same path — new files landing there are
    the increments."""
    from .sources.files import read_file_table, table_path

    conn = ctx.global_spec.connectors.source_files
    static = read_file_table(ctx.spark, conn, spec.source_table, spec.source_schema)
    path = table_path(conn, spec.source_table, spec.source_schema)
    reader = ctx.spark.readStream.schema(static.schema).format(conn.format)
    if conn.format == "csv":
        reader = reader.option("header", "true")
    if spec.incremental.max_files_per_trigger is not None:
        # backpressure: a month of backlog drains as bounded micro-batches
        # (each one shuffle-sized for the executors) instead of one giant
        # batch that spills; availableNow honors this cap per batch
        reader = reader.option(
            "maxFilesPerTrigger", str(spec.incremental.max_files_per_trigger)
        )
    return reader.load(path)


def _default_scan(ctx: JobContext, spec: TableSpec) -> DataFrame:
    return resolve_source(
        ctx.spark,
        ctx.global_spec.connectors,
        spec.source_table,
        spec.source_schema,
        fetchsize=ctx.global_spec.batch_size,
        partition_column=spec.partition_column,
        num_partitions=spec.num_partitions,
        # plan review must not run the JDBC min/max bounds probe
        allow_probes=not ctx.explain_only,
    )


def _transform_plugin_chain(g: GlobalSpec, spec: TableSpec) -> list[str]:
    local = spec.transform_plugins or []
    if spec.transform_override:
        chain = list(local)
    else:
        chain = [n for n in g.transform_plugins if n != "default_transform"] + local
    return chain


def _validation_plugin_chain(g: GlobalSpec, spec: TableSpec) -> list[str]:
    """Global then table-local validator plugins; the built-in rule
    engine plays the role of ``default_validation``."""
    return [n for n in g.validation_plugins if n != "default_validation"] + (
        spec.validation_plugins or []
    )


def run_table(
    ctx: JobContext, spec: TableSpec, observation: Optional["Observation"] = None
) -> DataFrame:
    """Compile, run fail-fast checks, write. Returns the final DataFrame
    (also handy for tests/queries). ``observation`` (if given) is
    attached to the plan right before the sink, so metrics like row
    counts come from the write itself — no second execution."""
    if spec.manifest:
        # validated BEFORE anything runs: a post-write raise would skip
        # the quarantine write and the incremental commit (double-load
        # on the next run); unsupported paths refuse rather than
        # silently leaving a STALE card beside changed data
        files_target(ctx.global_spec.connectors, spec.target_table, "manifest")
        loader_name0 = spec.loader_plugin or ctx.global_spec.loader_plugin
        reasons = []
        if spec.scd2 is not None:
            reasons.append("scd2 owns its write path")
        if spec.incremental is not None and spec.incremental.mode == "streaming":
            reasons.append("streaming drains would re-profile per micro-batch")
        if loader_name0 not in ("default_loader",):
            reasons.append(f"custom loader {loader_name0!r} owns the write")
        if reasons:
            raise ValueError(
                f"{spec.target_table}: manifest unsupported here — "
                + "; ".join(reasons)
            )

    compiled = compile_table(ctx, spec)
    if spec.incremental is not None and spec.incremental.mode == "streaming":
        if spec.expectations:
            raise ValueError(
                f"{spec.target_table}: expectations need an eager pre-write "
                "aggregate — not available in streaming mode"
            )
        return _run_streaming_table(ctx, spec, compiled)
    run_error_checks(compiled.df, compiled.error_checks)

    # table-level DQ gate (TableSpec.expectations): one wide aggregate
    # over the outgoing rows; any failure aborts BEFORE the write, so a
    # broken load never partially publishes (vs per-row validations,
    # which rewrite/drop rows and keep loading)
    if spec.expectations:
        from .operators.expectations import Expect, enforce

        checks = [Expect.from_spec(e) for e in spec.expectations]
        if not ctx.explain_only:
            from .spec import LookupSpec as _LkSpec

            enforce(
                compiled.df,
                checks,
                # fk refs resolve target-first with the job's shared
                # lookup cache — the parent dimension lives on the
                # target side, like lookups
                resolve_ref=lambda t: ctx.lookup_table(
                    _LkSpec(table=t, key_column="_")
                ),
            )

    if spec.scd2 is not None:
        merged = _write_scd2(ctx, spec, compiled.df, observation)
        _after_write(ctx, spec, compiled, read_metrics=True)
        return merged

    out = _observe_rows(_align_for_append(ctx, spec, compiled.df), observation)

    # resolve the plugin inside try/except KeyError, call it outside —
    # a KeyError from a partially-executed custom loader must propagate
    # (falling back to the default sink here could double-load the table)
    loader_name = spec.loader_plugin or ctx.global_spec.loader_plugin
    loader = None
    if loader_name not in ("default_loader",):
        try:
            loader = registry.get("loader", loader_name)
        except KeyError:
            logger.warning("loader plugin %r not found — using default", loader_name)
    if spec.incremental is not None and spec.write_mode == "overwrite":
        logger.warning(
            "%s: incremental mode with write_mode=overwrite keeps only the "
            "latest increment — use write_mode=append for a growing target",
            spec.target_table,
        )

    if loader is not None:
        if spec.zorder_by:
            raise ValueError(
                f"{spec.target_table}: zorder_by is ignored by custom "
                f"loader {loader_name!r} — implement the layout in the "
                "loader or drop one of the two"
            )
        if spec.shards is not None:
            raise ValueError(
                f"{spec.target_table}: shards is ignored by custom "
                f"loader {loader_name!r} — implement the layout in the "
                "loader or drop one of the two"
            )
        loader(out, ctx, spec)
        # a loader need not execute the observed plan, and .get on an
        # unexecuted Observation blocks forever
        _after_write(ctx, spec, compiled, read_metrics=False)
        return out

    conns = ctx.global_spec.connectors
    if spec.shards is not None:
        path, fmt = files_target(conns, spec.target_table, "shards")
        if spec.shards.id_column not in out.columns:
            raise ValueError(
                f"{spec.target_table}: shards id_column "
                f"{spec.shards.id_column!r} not in pipeline output {out.columns}"
            )
        from .sinks.export import export_training_shards

        export_training_shards(
            out,
            path,
            spec.shards.id_column,
            n_shards=spec.shards.n,
            seed=spec.shards.seed,
            fmt=fmt,
        )
    elif spec.zorder_by:
        path, fmt = files_target(conns, spec.target_table, "zorder_by")
        from .sinks.zorder import zorder_write

        zorder_write(out, path, list(spec.zorder_by), fmt=fmt, mode=spec.write_mode)
    else:
        ctx.write_target(out, spec)
    if spec.manifest:
        path, fmt = files_target(conns, spec.target_table, "manifest")
        from .sinks.manifest import write_manifest

        write_manifest(
            ctx.spark,
            path,
            fmt=fmt,
            extra={"source_table": spec.source_table, "target_table": spec.target_table},
        )
    _after_write(ctx, spec, compiled, read_metrics=True)
    return out


def _observe_rows(
    df: DataFrame, observation: Optional["Observation"]
) -> DataFrame:
    """Attach ``run_job``'s row-count Observation (if any) to the frame
    a sink writes, so the count comes from the write itself."""
    if observation is None:
        return df
    return df.observe(observation, F.count(F.lit(1)).alias("rows"))


def _after_write(
    ctx: JobContext, spec: TableSpec, compiled: CompiledTable, *, read_metrics: bool
) -> None:
    """The tail every batch write path runs once its table is written:
    quarantine, validation-metric warnings, state increment, the
    incremental commit (only after a successful write) and the finalize
    hooks (the reference runs finalize after EVERY load path).
    ``read_metrics`` is False when the write may not have executed the
    observed plan — the observed counters are set only by an action."""
    _write_quarantine(ctx, spec, compiled)
    if read_metrics:
        for label, obs in compiled.validation_metrics:
            n = obs.get.get("violations", 0) or 0
            if n:
                logger.warning(
                    "%s: validation %s — %d violating rows", spec.target_table, label, n
                )
    _write_state_increment(ctx, spec, compiled)
    if compiled.incremental_commit is not None:
        compiled.incremental_commit()
    _run_finalize_hooks(ctx, spec)


def _align_for_append(
    ctx: JobContext, spec: TableSpec, out: DataFrame
) -> DataFrame:
    """Write-side schema reconciliation (the append twin of the
    read-side ``operators/automap.py`` drift healing): appending to an
    existing target whose column set has drifted must not silently
    write divergent files (parquet happily mixes schemas per file;
    readers without mergeSchema then see whichever subset they sample).
    Target-only columns are null-filled with the TARGET's type (warn);
    pipeline-only columns are an error — widening a table is a
    deliberate migration, not an append side effect. Columns are
    emitted in target order (JDBC INSERT order safety)."""
    if spec.write_mode != "append":
        return out
    target = ctx.read_target_if_exists(spec.target_table, spec.target_schema)
    if target is None:
        return out  # first load (or no target connector): nothing to align
    tfields = {f.name: f.dataType for f in target.schema.fields}
    extra = [c for c in out.columns if c not in tfields]
    if extra:
        raise RuntimeError(
            f"{spec.target_table}: append would add columns {extra} the "
            "target lacks — migrate the target schema explicitly instead"
        )
    missing = [c for c in tfields if c not in out.columns]
    if missing:
        logger.warning(
            "%s: target columns %s absent from pipeline output — "
            "null-filled for append",
            spec.target_table,
            missing,
        )
    return out.select(
        *[
            F.col(c) if c in out.columns else F.lit(None).cast(tfields[c]).alias(c)
            for c in target.schema.fieldNames()
        ]
    )


def _run_streaming_table(
    ctx: JobContext, spec: TableSpec, compiled: CompiledTable
) -> DataFrame:
    """Execute a ``mode: streaming`` table: one ``availableNow`` drain
    of the file-landing stream through the compiled transformation plan
    into the target via an idempotent ``foreachBatch`` append — each
    ``run_table`` call processes exactly the files that landed since
    the last run (Spark's file-source checkpoint tracks them), so the
    CLI cadence becomes the micro-batch cadence. Exactly-once: the
    batch-id ledger skips replayed micro-batches after a crash between
    sink write and checkpoint commit (``streaming/foreach_sink``).

    Rows written this drain are recorded in ``ctx`` for ``run_job``'s
    report (a streaming plan has no Observation to read)."""
    from .streaming.foreach_sink import idempotent_foreach_batch

    inc = spec.incremental
    state_dir = Path(
        inc.state_path or f".stream/{spec.source_table}__{spec.target_table}"
    )
    state_dir.mkdir(parents=True, exist_ok=True)
    counter = {"rows": 0}
    fc = spec.frequency_cap
    fs = spec.first_sighting
    sp = spec.sample_panel
    tb = spec.token_budget
    for blk_name, blk in (("first_sighting", fs), ("frequency_cap", fc)):
        if blk is not None and blk.key_column not in compiled.df.columns:
            # friendly pre-drain error, the quality_filter column rule —
            # a typo'd key would otherwise surface as an
            # AnalysisException from inside the first micro-batch
            raise ValueError(
                f"{spec.target_table}: {blk_name} key_column "
                f"{blk.key_column!r} not in pipeline output "
                f"{compiled.df.columns}"
            )
    if sp is not None:
        for c in [*sp.group_columns, sp.id_column, *sp.carry]:
            if c not in compiled.df.columns:
                raise ValueError(
                    f"{spec.target_table}: sample_panel column {c!r} "
                    f"not in pipeline output {compiled.df.columns}"
                )
    if tb is not None:
        for c in [*tb.group_columns, tb.weight_column]:
            if c not in compiled.df.columns:
                raise ValueError(
                    f"{spec.target_table}: token_budget column {c!r} "
                    f"not in pipeline output {compiled.df.columns}"
                )

    def _write_rows(bdf: DataFrame, table: str) -> int:
        bdf = bdf.persist()
        try:
            n = bdf.count()
            ctx.write_target(bdf, spec, table, mode="append")
            return n
        finally:
            bdf.unpersist()

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        # same write-side drift healing as the batch append path —
        # without it a drifted target would accumulate mixed-schema
        # parquet files, the exact hazard _align_for_append exists for
        bdf = _align_for_append(ctx, spec, bdf)
        if fc is None and fs is None and sp is None and tb is None:
            counter["rows"] += _write_rows(bdf, spec.target_table)
            return
        # the batch feeds each gate's estimate/probe, its increment,
        # AND the routed sinks — pin it once (eager foreachBatch
        # territory). Gate order: first_sighting (dedup) BEFORE
        # frequency_cap (capping a stream you haven't deduped counts
        # re-ingests as frequency); each stage's monitor counts what
        # reached it.
        bdf = bdf.persist()
        try:
            kept = bdf
            if fs is not None:
                from .streaming.bloom_monitor import first_sighting_split

                kept, maybe = first_sighting_split(
                    kept,
                    fs.key_column,
                    m_bits=fs.m_bits,
                    k=fs.k,
                    seed=fs.seed,
                    state_path=str(state_dir / "sighting_state"),
                    report_path=str(state_dir / "sighting_report"),
                    batch_id=int(batch_id),
                )
                if fs.overflow_table:
                    # lossless routing: the maybe-seen sliver (real
                    # re-ingests + the ε false positives) lands beside
                    # the target for the exact anti-join-vs-history
                    # check instead of vanishing
                    _write_rows(maybe, fs.overflow_table)
            if fc is not None:
                from .streaming.cms_monitor import frequency_cap_split

                kept, over = frequency_cap_split(
                    kept,
                    fc.key_column,
                    cap=fc.cap,
                    width=fc.width,
                    depth=fc.depth,
                    seed=fc.seed,
                    state_path=str(state_dir / "freqcap_state"),
                    report_path=str(state_dir / "freqcap_report"),
                    batch_id=int(batch_id),
                )
                if fc.overflow_table:
                    # strict exact-check routing: the maybe-over-cap
                    # sliver lands beside the target for an offline
                    # exact audit instead of vanishing
                    _write_rows(over, fc.overflow_table)
            if tb is not None:
                from .streaming.budget_monitor import token_budget_split

                kept, over_b = token_budget_split(
                    kept,
                    list(tb.group_columns),
                    tb.weight_column,
                    budget=tb.budget,
                    state_path=str(state_dir / "budget_state"),
                    report_path=str(state_dir / "budget_report"),
                    batch_id=int(batch_id),
                )
                if tb.overflow_table:
                    # auditable routing: over-budget rows land beside
                    # the target instead of vanishing
                    _write_rows(over_b, tb.overflow_table)
            if sp is not None:
                from .operators.aggstate import build_sample_state

                # panel samples the KEPT rows (what actually landed in
                # the target); per-batch-id overwrite subdir = the
                # monitor family's crash-replay idempotency rule
                build_sample_state(
                    kept,
                    list(sp.group_columns),
                    sp.id_column,
                    k=sp.k,
                    seed=sp.seed,
                    carry=list(sp.carry),
                ).write.mode("overwrite").parquet(
                    str(state_dir / "panel_state" / f"batch_id={int(batch_id)}")
                )
            counter["rows"] += _write_rows(kept, spec.target_table)
        finally:
            bdf.unpersist()

    q = (
        compiled.df.writeStream.foreachBatch(
            idempotent_foreach_batch(write_batch, str(state_dir / "ledger.jsonl"))
        )
        .option("checkpointLocation", str(state_dir / "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ctx.stream_counts[spec.target_table] = counter["rows"]
    logger.info(
        "%s: streaming drain wrote %d rows", spec.target_table, counter["rows"]
    )
    return compiled.df


def _write_scd2(
    ctx: JobContext,
    spec: TableSpec,
    updates: DataFrame,
    observation: Optional["Observation"] = None,
) -> DataFrame:
    """Declarative SCD Type-2 load (``TableSpec.scd2`` — VERDICT r3 #4):
    the compiled pipeline output is an update batch merged into the
    versioned dimension at the target via ``operators/scd.py``.

    First run (no target) bootstraps with ``scd2_initial``. Later runs
    read the existing dimension, apply ``scd2_apply`` (one key join +
    union), and replace the target SAFELY even though the merge plan
    READS it (``sinks.replace_table``). ``observation`` counts the
    written dimension's rows during the write. Returns a fresh read of
    the written dimension. The dimension's column set is exactly
    ``key + compare_columns + validity`` — extra pipeline columns are an
    error (silently dropping them would surprise; project them away in
    the mappings instead)."""
    s = spec.scd2
    missing = [c for c in [s.key, *s.compare_columns] if c not in updates.columns]
    if missing:
        raise ValueError(
            f"{spec.target_table}: scd2 columns {missing} not in pipeline "
            f"output {updates.columns}"
        )
    extras = set(updates.columns) - {s.key, *s.compare_columns, s.effective_column or s.key}
    if extras:
        raise ValueError(
            f"{spec.target_table}: pipeline output carries columns "
            f"{sorted(extras)} outside scd2 key/compare_columns — project "
            "them away in the mappings (the dimension's shape is "
            "key + compare_columns + validity interval)"
        )
    loader_name = spec.loader_plugin or ctx.global_spec.loader_plugin
    if loader_name not in ("default_loader",):
        raise ValueError(
            f"{spec.target_table}: scd2 owns the write path — a custom "
            f"loader plugin ({loader_name!r}) cannot be combined with it"
        )

    from .operators.scd import scd2_apply, scd2_initial

    if s.effective_time is not None:
        eff = s.effective_time
    else:
        if s.effective_column not in updates.columns:
            raise ValueError(
                f"{spec.target_table}: scd2.effective_column "
                f"{s.effective_column!r} not in pipeline output"
            )
        row = updates.agg(F.max(s.effective_column).alias("m")).collect()[0]
        if row["m"] is None:
            raise ValueError(
                f"{spec.target_table}: scd2 effective_column "
                f"{s.effective_column!r} has no non-null values this run"
            )
        eff = str(row["m"])
    upd = updates.select(s.key, *s.compare_columns)

    dim = ctx.read_target_if_exists(spec.target_table, spec.target_schema)
    if dim is None:
        merged = scd2_initial(
            upd, s.key, s.compare_columns, eff,
            valid_from=s.valid_from, valid_to=s.valid_to,
        )
        ctx.write_target(_observe_rows(merged, observation), spec, mode="overwrite")
        logger.info("%s: scd2 bootstrap at %s", spec.target_table, eff)
    else:
        need = {s.key, *s.compare_columns, s.valid_from, s.valid_to}
        lacking = sorted(need - set(dim.columns))
        if lacking:
            raise ValueError(
                f"{spec.target_table}: existing target lacks scd2 columns "
                f"{lacking} — not a dimension this spec can merge into"
            )
        merged = scd2_apply(
            dim, upd, s.key, s.compare_columns, eff,
            valid_from=s.valid_from, valid_to=s.valid_to,
        )
        ctx.write_target(_observe_rows(merged, observation), spec, replace=True)
        logger.info("%s: scd2 merge applied at %s", spec.target_table, eff)
    # the merge plan's lineage reads the PRE-write target and the
    # bootstrap plan re-runs the source: hand back what was written
    return ctx._read_target(spec.target_table, spec.target_schema)


def _write_quarantine(
    ctx: JobContext, spec: TableSpec, compiled: CompiledTable
) -> None:
    """Write rows rejected by ``on_fail: quarantine`` rules to
    ``spec.quarantine_table`` through the same job-level write as the
    main output (and the declarative quality_filter's and
    decontaminate's rejects to their ``reject_table``). Without a
    configured quarantine table the rejects are
    dropped (quarantine degrades to skip) — warn, because the user
    asked for an audit trail they aren't getting."""
    if compiled.quarantine is not None and not spec.quarantine_table:
        logger.warning(
            "%s: quarantine rules fired but no quarantine_table is "
            "configured — rejected rows are dropped without audit",
            spec.target_table,
        )
    side_outputs = [
        (spec.quality_filter and spec.quality_filter.reject_table, compiled.quality_rejects),
        (spec.decontaminate and spec.decontaminate.reject_table, compiled.decontam_rejects),
        (spec.quarantine_table, compiled.quarantine),
    ]
    for table, rejects in side_outputs:
        if table and rejects is not None:
            ctx.write_target(rejects, spec, table)


def state_dirs(spec: TableSpec) -> "list[tuple]":
    """Resolve every ``state:`` block to its increment directory —
    per (source, target) pair like the stream state dirs, so two specs
    loading one source into different targets never fold each other's
    increments. A SINGLE block keeps the historical default
    ``.state/<src>__<tgt>/agg_state`` (existing states keep folding);
    multiple pathless blocks get ``agg_state_<kind>_<value_column>``
    suffixes, and any resolved-path collision (two blocks sketching
    the same (kind, column)) REFUSES at compile with the explicit-path
    hint — a collision would silently interleave two incompatible
    increment streams and fail at fold time at the earliest."""
    from .operators.statemaint import sanitize_mark

    blocks = spec.state_blocks
    base = f".state/{spec.source_table}__{spec.target_table}"
    if len(blocks) == 1:
        b = blocks[0]
        return [(b, b.state_path or f"{base}/agg_state")]
    out, seen = [], {}
    for b in blocks:
        d = b.state_path or (
            f"{base}/agg_state_{b.kind}_{sanitize_mark(b.value_column)}"
        )
        if d in seen:
            raise ValueError(
                f"{spec.target_table}: state blocks "
                f"({seen[d].kind} of {seen[d].value_column!r} and "
                f"{b.kind} of {b.value_column!r}) resolve to the same "
                f"increment directory {d!r} — set state_path explicitly "
                "on one of them"
            )
        seen[d] = b
        out.append((b, d))
    return out


def default_state_dir(spec: TableSpec) -> str:
    """Back-compat single-block resolver (the ``--state`` read path
    and the registry queries): the first block's directory."""
    return state_dirs(spec)[0][1]


def _write_state_increment(
    ctx: JobContext, spec: TableSpec, compiled: CompiledTable
) -> None:
    """Append tonight's mergeable-state increment (``state:`` block) —
    called after the main load succeeds and BEFORE the high-water mark
    commits, so a crash between the two replays the same window into
    the same ``mark=`` subdirectory (overwrite, never double-count).
    A window that admitted no rows (new_mark None) appends nothing."""
    if not spec.state_blocks:
        return
    from .operators.statemaint import write_state_increment

    mark = getattr(compiled.incremental_commit, "new_mark", None)
    if mark is None:
        logger.info(
            "%s: no new rows this window — no state increment",
            spec.target_table,
        )
        return
    for st, state_dir in state_dirs(spec):
        path = write_state_increment(compiled.df, st, state_dir, mark)
        logger.info(
            "%s: appended %s state increment at %s",
            spec.target_table, st.kind, path,
        )


def _run_finalize_hooks(ctx: JobContext, spec: TableSpec) -> None:
    """Reference parity for ``TransformPlugin.finalize_batch``
    (``plugin_interfaces/transform_interface.py:15-22``, invoked per
    batch at ``pipeline.py:92-95,109-112``): a transform plugin exposing
    a ``finalize`` attribute gets called once after the table's write
    (the whole table is one "batch" here — Spark owns partitioning;
    streaming jobs get the per-micro-batch version via ``foreachBatch``,
    ``streaming/incremental.py``)."""
    for name in _transform_plugin_chain(ctx.global_spec, spec):
        try:
            plugin = registry.get("transform", name)
        except KeyError:
            continue  # already warned during compile
        finalize = getattr(plugin, "finalize", None)
        if callable(finalize):
            finalize(ctx, spec)


class TableRunErrors(RuntimeError):
    """Raised at the END of a run_job with ``on_table_error: continue``
    when at least one table failed: every healthy table has already
    loaded; ``failures`` maps target_table -> exception and ``results``
    carries the per-table row counts (-1 for the failed ones)."""

    def __init__(self, failures: dict[str, Exception], results: dict[str, int]):
        self.failures = failures
        self.results = results
        super().__init__(
            f"{len(failures)} table(s) failed: "
            + ", ".join(f"{t}: {e}" for t, e in failures.items())
        )


def run_job(spark: SparkSession, job: JobSpec) -> dict[str, int]:
    """Run every table in declared order (reference iterates
    sequentially, ``pipeline.py:39``; independent tables could be
    parallelized driver-side, kept sequential for parity/determinism).
    Returns per-table row counts for the run report.

    Row counts come from ``DataFrame.observe`` metrics captured by the
    sink's own write action — the plan executes ONCE per table (a
    post-write ``df.count()`` would re-run the whole pipeline and could
    even report rows the write never saw if the source moved)."""
    from pyspark.sql import Observation

    ctx = JobContext(spark, job.global_spec)

    def run_one(spec: TableSpec) -> int:
        t0 = time.time()
        loader_name = spec.loader_plugin or job.global_spec.loader_plugin
        if spec.incremental is not None and spec.incremental.mode == "streaming":
            run_table(ctx, spec)
            n = ctx.stream_counts.get(spec.target_table, 0)
        elif loader_name not in ("default_loader",):
            # no Observation here: a custom loader need not run any
            # action on the observed plan — obs.get would block forever.
            # Count the returned frame instead (the honest second pass).
            n = run_table(ctx, spec).count()
        else:
            obs = Observation(f"etl_{spec.target_table}")
            run_table(ctx, spec, observation=obs)
            n = obs.get["rows"]
        logger.info(
            "%s.%s -> %s.%s: %d rows in %.1fs",
            spec.source_schema,
            spec.source_table,
            spec.target_schema,
            spec.target_table,
            n,
            time.time() - t0,
        )
        return n

    par = job.global_spec.table_parallelism
    cont = job.global_spec.on_table_error == "continue"
    failed: dict[str, Exception] = {}

    def run_guarded(spec: TableSpec) -> int:
        # "continue": isolate each table's failure, keep loading the
        # rest (reference aborts the whole pipeline on the first error;
        # this is the ops extension for wide nightly jobs). -1 marks a
        # failed table in the results; the caller raises at the end.
        if not cont:
            return run_one(spec)
        try:
            return run_one(spec)
        except Exception as e:  # noqa: BLE001 — reported, then re-raised in summary
            logger.error(
                "%s.%s -> %s.%s FAILED (on_table_error=continue): %s",
                spec.source_schema,
                spec.source_table,
                spec.target_schema,
                spec.target_table,
                e,
            )
            failed[spec.target_table] = e
            return -1

    results: dict[str, int] = {}
    if par <= 1 or len(job.tables) <= 1:
        for spec in job.tables:
            results[spec.target_table] = run_guarded(spec)
    else:
        # Driver-side table concurrency: Spark job submission is
        # thread-safe and the scheduler interleaves independent tables'
        # stages across the executors (small tables no longer serialize
        # behind big ones). Declared order is preserved in the RESULTS;
        # execution order isn't — the spec contract says tables are
        # independent at parallelism>1.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=par) as pool:
            futures = [
                (spec.target_table, pool.submit(run_guarded, spec))
                for spec in job.tables
            ]
            for target, fut in futures:
                results[target] = fut.result()
    if failed:
        raise TableRunErrors(failed, results)
    return results
