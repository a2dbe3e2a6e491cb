"""Config IR — the declarative job spec.

Accepts the same YAML dialect as the reference
(``/root/reference/mappings/parser.py:10-203``,
``/root/reference/config/tables/table_example.yaml``) so existing configs
run unchanged, and extends it where Spark needs more expressiveness:

* a ``files`` connector (parquet/csv/json/orc paths) next to the
  reference's ``oracle``/``postgres`` JDBC connectors — required because
  the dev/test loop has no live databases (SURVEY.md §7.5);
* optional JDBC read-parallelism fields (``partition_column`` /
  ``num_partitions``) — the reference is single-connection by design
  (``/root/reference/pipeline.py:25``), our reads are partitioned;
* an optional ``incremental`` block realizing the reference's declared
  but missing ``incremental_fetcher``
  (``/root/reference/config/tables/table_example.yaml:10``).

The IR is intentionally the *only* plan representation on the user side;
the compiler turns it into DataFrame expressions and Catalyst does the
rest (SURVEY.md §4).
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import List, Optional, Union

import yaml
from pydantic import BaseModel, ConfigDict, Field, field_validator, model_validator


class LoggingSpec(BaseModel):
    log_file: str = "error/etl_error.log"
    console_level: str = "INFO"
    file_level: str = "ERROR"


class OracleConnectorSpec(BaseModel):
    """JDBC coordinates for an Oracle source (reference uses the native
    ``oracledb`` driver; we build a jdbc:oracle:thin URL instead)."""

    client_lib_dir: Optional[str] = None  # accepted for dialect compat; unused
    user: str
    password: str
    host: str
    port: Union[int, str] = 1521
    service_name: str

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:oracle:thin:@//{self.host}:{self.port}/{self.service_name}"


class PostgresConnectorSpec(BaseModel):
    user: str
    password: str
    host: str
    port: Union[int, str] = 5432
    database: str

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"


class JdbcConnectorSpec(BaseModel):
    """[engine extension] Generic JDBC endpoint by explicit URL — any
    database Spark's JDBC source/sink can reach (Derby, H2, MySQL,
    SQL Server, ...). The typed Oracle/Postgres specs remain the
    reference-parity front door; this opens the identical pipeline to
    other engines, and lets the test suite execute the REAL JDBC
    read/write path end-to-end against the Derby driver embedded in the
    Spark distribution (no external DB needed).

    ``ping_sql`` is the startup connectivity probe (dialect-dependent:
    ``SELECT 1`` for Postgres/MySQL/H2, ``VALUES 1`` for Derby,
    ``SELECT 1 FROM DUAL`` for Oracle)."""

    url: str
    user: str = ""
    password: str = ""
    ping_sql: str = "SELECT 1"

    @property
    def jdbc_url(self) -> str:
        return self.url


class FilesConnectorSpec(BaseModel):
    """[engine extension] File-based source/target root. ``source_schema``
    / ``target_schema`` in a TableSpec select a subdirectory; tables map to
    ``<base_path>/<schema>/<table>.<format>`` or ``<base_path>/<table>.<format>``."""

    base_path: str
    format: str = "parquet"  # parquet | csv | json | orc
    #: malformed-record policy for text formats (csv/json):
    #: ``failfast`` (default — a corrupt row aborts the load loudly,
    #: matching the engine's no-silent-corruption stance),
    #: ``dropmalformed`` (skip bad rows), or ``permissive`` (bad rows
    #: surface with their raw text in ``_corrupt_record`` so a
    #: quarantine rule can divert them). Parquet/orc carry their own
    #: integrity — the option is ignored there.
    on_corrupt: str = "failfast"

    @field_validator("on_corrupt")
    @classmethod
    def _known_corrupt_mode(cls, v: str) -> str:
        if v not in ("failfast", "dropmalformed", "permissive"):
            raise ValueError(
                f"on_corrupt must be failfast|dropmalformed|permissive, got {v!r}"
            )
        return v


class ConnectorsSpec(BaseModel):
    oracle: Optional[OracleConnectorSpec] = None
    postgres: Optional[PostgresConnectorSpec] = None
    source_files: Optional[FilesConnectorSpec] = None
    target_files: Optional[FilesConnectorSpec] = None
    #: generic JDBC-by-URL endpoints (engine extension); when set they
    #: take the role of oracle (source) / postgres (target)
    source_jdbc: Optional[JdbcConnectorSpec] = None
    target_jdbc: Optional[JdbcConnectorSpec] = None


class LookupSpec(BaseModel):
    """J1/J2 lookup config (reference ``LookupConfig``,
    ``/root/reference/mappings/parser.py:35-39``).

    ``on_missing`` policy ladder (``/root/reference/plugins/default_lookup.py:76-95``):
    null | skip | default:<v> | error. A lookup whose ``table`` equals the
    pipeline's own target table is a *self-lookup* (J2) and compiles to a
    pre-write self-join instead of the reference's tmp-column + UPDATE
    protocol (``/root/reference/plugins/default_loader.py:109-154``).
    """

    table: str
    key_column: str
    value_column: Optional[str] = None
    on_missing: Optional[str] = None
    #: engine extension — VERSIONED (SCD2 point-in-time) lookup: when
    #: ``ts_column`` names a fact-side timestamp column, the lookup
    #: matches the dimension version valid at each row's own timestamp
    #: (``valid_from <= ts < valid_to``, open version unbounded) instead
    #: of first-match-per-key. "No version valid at ts" rides the same
    #: on_missing ladder as "key absent". Dim intervals must be disjoint
    #: per key (scd2_apply output is); the compile gate asserts it.
    ts_column: Optional[str] = None
    valid_from_column: str = "valid_from"
    valid_to_column: str = "valid_to"


class ValidationSpec(BaseModel):
    """V1-V3 rule (reference ``ValidationRule``,
    ``/root/reference/mappings/parser.py:42-55``). ``on_fail`` ladder:
    None→set NULL | skip | default:<v> | anything else→error (fail fast),
    per ``/root/reference/plugins/default_validation.py:26-38``."""

    type: str  # regex | range | lookup
    pattern: Optional[str] = None
    lookup: Optional[LookupSpec] = None
    #: None | skip | default:<v> | quarantine (engine extension: divert
    #: the row to TableSpec.quarantine_table with rule labels) | error
    on_fail: Optional[str] = None


class MappingSpec(BaseModel):
    """One column mapping (reference ``MappingRule``,
    ``/root/reference/mappings/parser.py:60-75``). ``transform`` accepts a
    comma-separated string or a list; ops apply left-to-right."""

    source: Optional[str] = None
    target: Optional[str] = None
    transform: Optional[Union[str, List[str]]] = None
    plugin: Optional[str] = None
    lookup: Optional[LookupSpec] = None
    validation: Optional[List[ValidationSpec]] = None

    @field_validator("transform", mode="before")
    @classmethod
    def _normalize_transform(cls, v):
        if isinstance(v, str):
            return [p.strip() for p in v.split(",") if p.strip()]
        return v


class IncrementalSpec(BaseModel):
    """[engine extension] Realizes the declared-but-missing
    ``incremental_fetcher`` (SURVEY.md §2.9): repeated batch with a
    monotonic high-water-mark column, or Structured Streaming."""

    watermark_column: str
    mode: str = "batch"  # batch | streaming
    state_path: Optional[str] = None  # where the high-water mark is persisted
    #: streaming backpressure: cap the files per micro-batch so a huge
    #: backlog drains as bounded batches instead of one giant one
    max_files_per_trigger: Optional[int] = Field(default=None, ge=1)

    @model_validator(mode="after")
    def _trigger_cap_is_streaming_only(self) -> "IncrementalSpec":
        if self.max_files_per_trigger is not None and self.mode != "streaming":
            raise ValueError(
                "max_files_per_trigger only applies to mode: streaming — "
                "a batch high-water-mark read has no micro-batches to cap"
            )
        return self


class DedupSpec(BaseModel):
    """[engine extension] Declarative in-pipeline deduplication of the
    outgoing rows (SURVEY.md §2.11) — the YAML user gets the dedup
    operators without writing code.

    ``method: exact`` keeps one row per ``columns`` tuple (survivor =
    min ``id_column`` row, deterministic across partitionings);
    ``columns`` omitted → full-row DISTINCT (no id needed).
    ``method: fingerprint`` keys on md5 of the normalized
    ``text_column`` (case/whitespace/punctuation-insensitive).
    ``method: minhash`` is NEAR-dup dedup: MinHash+LSH candidate pairs
    exact-verified at ``threshold`` Jaccard, clustered transitively
    (``operators/dedup.py:near_dup_clusters``: in memory on the driver
    for pair sets up to 1M edges, large-star/small-star rounds above
    that), every non-minimum cluster member dropped — the full
    LLM-corpus dedup pipeline from YAML alone.
    ``method: semantic`` is the embedding-space twin: sign-LSH cosine
    pairs over ``vector_column`` (``threshold`` is a COSINE here),
    same clustering, same min-id survivor rule — paraphrase dedup from
    YAML alone.
    ``method: semdedup`` is the CELL-bounded embedding-space variant
    (SemDeDup, Abbas et al. 2023): candidate pairs come from
    ``n_centroids`` deterministic cells instead of LSH buckets, and
    each duplicate group keeps its LEAST-prototypical member (minimum
    centroid cosine) rather than the min id — the diversity-preserving
    survivor rule (``operators/similarity.py:semdedup_cells``).
    ``method: soft`` is SOFT dedup (reweight, don't remove): the same
    MinHash pair/cluster machinery as ``minhash``, but every row ships
    with ``cluster_id``/``n_dups``/``sample_weight = 1/n_dups`` columns
    instead of losers being dropped
    (``operators/dedup.py:soft_dedup_weights``).

    ``pairs_table`` (minhash/soft only) names a PERSISTED near-dup pair
    table — ``(id_i, id_j)`` rows, e.g. a saved ``minhash_near_dups``
    result or a ``minhash_index_lookup`` output — resolved through the
    job's target-then-source connectors like a lookup dimension. When
    set, the expensive banded bucket join is NOT re-mined inside this
    pipeline: several jobs (soft dedup + preference pairs +
    cluster-safe split) share ONE pair mining pass (VERDICT r7 ask #5).
    Ids must be the same key domain as ``id_column``; the mining
    parameters that produced the table are the caller's contract, so
    persist them beside it (the layout-marker pattern)."""

    method: str = "fingerprint"  # exact|fingerprint|minhash|semantic|semdedup|soft
    columns: Optional[List[str]] = None  # exact: key columns
    text_column: Optional[str] = None  # fingerprint/minhash: the text
    vector_column: Optional[str] = None  # semantic: the embedding
    id_column: Optional[str] = None  # deterministic survivor tie-break
    #: minhash knobs (ignored by other methods)
    threshold: float = 0.8
    num_hashes: int = 64
    bands: int = 16
    shingle_n: int = 3
    #: minhash/soft: reuse a persisted (id_i, id_j) pair table instead
    #: of re-mining pairs inside this pipeline
    pairs_table: Optional[str] = None
    #: minhash only: probe a PERSISTED minhash index
    #: (``operators/dedup.py:minhash_index_build`` — two tables,
    #: ``<name>_bands`` + ``<name>_shingles``, resolved through the
    #: job's target-then-source connectors) instead of mining pairs in
    #: this pipeline: rows near-duplicating an INDEXED document at
    #: ``threshold`` Jaccard are dropped, and the archive text is never
    #: re-read — the declarative incremental-dedup path (a ``mode:
    #: incremental`` delta probes the standing corpus index).  The band
    #: parameters (num_hashes/bands/shingle_n/seed) MUST match the
    #: build; persist them beside the index (the layout-marker pattern).
    index_table: Optional[str] = None
    #: semantic knobs (``seed`` also seeds minhash/soft hashing)
    n_planes: int = 8
    seed: int = 42
    #: semdedup knob: number of deterministic candidate cells
    n_centroids: int = 16
    #: semdedup only: a PERSISTED trained ``(cluster_id, centroid)``
    #: codebook (e.g. an ``ivf_train`` output) resolved through the
    #: job's target-then-source connectors — real corpora cluster on
    #: trained centroids instead of the deterministic
    #: ``id < n_centroids`` cells (which assume ids starting near 0);
    #: ``n_centroids`` is ignored when set
    centroids_table: Optional[str] = None
    #: streaming mode only: how long a key's dedup state is retained
    #: past the event-time watermark (duplicates farther apart than
    #: this horizon are out of contract — state must be bounded)
    watermark_delay: str = "10 minutes"

    @field_validator("n_planes")
    @classmethod
    def _planes_positive(cls, v: int) -> int:
        if v < 1:
            # n_planes=0 would make the LSH signature a constant -> the
            # bucket equi-join degenerates to an all-pairs corpus self-join
            raise ValueError(f"dedup n_planes must be >= 1, got {v}")
        return v

    @field_validator("method")
    @classmethod
    def _known_method(cls, v: str) -> str:
        if v not in (
            "exact", "fingerprint", "minhash", "semantic", "semdedup", "soft"
        ):
            raise ValueError(
                "dedup method must be exact|fingerprint|minhash|semantic|"
                f"semdedup|soft, got {v!r}"
            )
        return v

    @field_validator("n_centroids")
    @classmethod
    def _centroids_positive(cls, v: int) -> int:
        if v < 1:
            # 0 cells would leave every vector unassigned; 1 cell
            # degenerates to an all-pairs corpus self-join
            raise ValueError(f"dedup n_centroids must be >= 1, got {v}")
        return v

    @model_validator(mode="after")
    def _mounted_tables_contract(self) -> "DedupSpec":
        if self.centroids_table is not None and self.method != "semdedup":
            raise ValueError(
                "dedup centroids_table only applies to method semdedup "
                f"(got method {self.method!r}) — the other methods have "
                "no centroid assignment stage"
            )
        if self.index_table is not None:
            if self.method != "minhash":
                raise ValueError(
                    "dedup index_table only applies to method minhash "
                    f"(got method {self.method!r}) — the index IS banded "
                    "MinHash signatures"
                )
            if self.pairs_table is not None:
                raise ValueError(
                    "dedup index_table and pairs_table are mutually "
                    "exclusive: pairs_table replays ALREADY-mined pairs; "
                    "index_table probes new rows against a standing index"
                )
        return self


class SampleSpec(BaseModel):
    """[engine extension] Declarative sampling / data mixing, three
    methods (all deterministic via portable md5 hashes — re-runs and
    engine migrations keep the exact same rows):

    ``method: rates`` (default) — per-group keep rates
    (``curation.weighted_sample``; needs ``group_column`` + ``rates``).
    ``method: exact_n`` — the global exact-N sample
    (``curation.sample_n``; needs ``n``).
    ``method: priority`` — exact-N WEIGHTED without replacement,
    Efraimidis-Spirakis (``curation.priority_sample``; needs ``n`` +
    ``weight_column``).
    ``method: token_budget`` — per-group TOKEN quotas, the mixture
    recipe stated as "N tokens per source" (``curation.
    token_budget_sample``; needs ``group_column`` + ``budget_tokens``
    + ``text_column``; adds an ``n_tokens`` output column).
    ``method: temperature`` — rates DERIVED in-plan from group sizes
    (n^alpha temperature mixing scaled to an expected ``budget_rows``
    total, ``curation.temperature_mix``; needs ``group_column`` +
    ``budget_rows``; ``alpha`` defaults to 0.5, the bit-exact sqrt
    path).
    ``method: epochs`` — the published per-source epoch table applied
    directly (>1 repeats the group with an ``epoch`` copy-index column,
    <1 subsamples, 0 drops; ``curation.epoch_mix``; needs
    ``group_column`` + ``epochs``; unlisted groups get
    ``default_epochs``).
    ``method: cap`` — per-group frequency cap, at most ``cap`` rows per
    group by portable-hash order (the "max N docs per domain" rule,
    ``curation.cap_per_group``; needs ``group_column`` + ``cap``; the
    constant cap compiles to a WindowGroupLimit pre-limit).
    ``method: unimax`` — UniMax epoch-capped mixture APPLIED: the total
    ``budget_tokens`` is water-filled across groups (no group past
    ``max_epochs``, ``curation.unimax_mixture``) and each group keeps
    its hash-order prefix to its OWN allocation
    (``curation.unimax_sample``; needs ``group_column`` +
    ``text_column`` + ``budget_tokens``; adds ``n_tokens`` +
    ``target_epochs`` output columns).
    ``method: doremi`` — DoReMi mixture APPLIED: per-row excess losses
    (``loss_column``) drive the linearized-MW domain weights
    (``curation.mixture_reweight``, step size ``eta``) and each group
    keeps its hash-order prefix of ``floor(weight · budget_rows)`` rows
    (``curation.doremi_sample``; needs ``group_column`` +
    ``loss_column`` + ``budget_rows``; adds ``domain_weight`` +
    ``target_rows`` output columns).
    ``method: doremi_tokens`` — the SAME learned mixture applied to a
    TOKEN budget, the paper's own unit (domain weights are token-mass
    shares): floor(weight · ``budget_tokens``) tokens per group, kept
    as the hash-order document prefix until the running total reaches
    the allocation (``curation.doremi_token_sample``; needs
    ``group_column`` + ``loss_column`` + ``text_column`` +
    ``budget_tokens``; adds ``n_tokens`` + ``domain_weight`` +
    ``target_tokens`` output columns)."""

    method: str = "rates"  # rates | exact_n | priority | token_budget | temperature | epochs | cap | unimax | doremi | doremi_tokens
    id_column: str
    group_column: Optional[str] = None
    rates: Optional[dict] = None  # group value -> keep rate in [0, 1]
    default_rate: float = 0.0
    n: Optional[int] = None
    weight_column: Optional[str] = None
    text_column: Optional[str] = None
    budget_tokens: Optional[int] = None
    budget_rows: Optional[int] = None
    alpha: float = Field(default=0.5, ge=0.0, le=1.0)
    epochs: Optional[dict] = None  # group value -> epochs in [0, 100]
    default_epochs: float = 1.0
    cap: Optional[int] = None  # method=cap: max rows kept per group
    max_epochs: int = Field(default=4, ge=1)  # method=unimax: repeat cap
    #: method=doremi: per-row excess-loss column + the MW step size
    loss_column: Optional[str] = None
    eta: float = Field(default=0.5, ge=0.0)
    seed: str = "mix0"

    @field_validator("method")
    @classmethod
    def _known_sample_method(cls, v: str) -> str:
        if v not in (
            "rates", "exact_n", "priority", "token_budget", "temperature",
            "epochs", "cap", "unimax", "doremi", "doremi_tokens",
        ):
            raise ValueError(
                "sample method must be rates|exact_n|priority|token_budget|"
                f"temperature|epochs|cap|unimax|doremi|doremi_tokens, got {v!r}"
            )
        return v

    @model_validator(mode="after")
    def _method_requirements(self) -> "SampleSpec":
        if self.method == "rates" and (self.group_column is None or self.rates is None):
            raise ValueError("sample method=rates needs group_column and rates")
        if self.method in ("exact_n", "priority") and (
            self.n is None or self.n <= 0
        ):
            raise ValueError(f"sample method={self.method} needs n > 0")
        if self.method == "priority" and not self.weight_column:
            raise ValueError("sample method=priority needs weight_column")
        if self.method == "token_budget" and (
            not self.group_column
            or not self.text_column
            or self.budget_tokens is None
            or self.budget_tokens <= 0
        ):
            raise ValueError(
                "sample method=token_budget needs group_column, text_column "
                "and budget_tokens > 0"
            )
        if self.method == "temperature" and (
            not self.group_column
            or self.budget_rows is None
            or self.budget_rows <= 0
        ):
            raise ValueError(
                "sample method=temperature needs group_column and "
                "budget_rows > 0"
            )
        if self.method == "epochs" and (not self.group_column or not self.epochs):
            raise ValueError(
                "sample method=epochs needs group_column and a non-empty "
                "epochs mapping"
            )
        if self.method == "cap" and (
            not self.group_column or self.cap is None or self.cap < 1
        ):
            raise ValueError("sample method=cap needs group_column and cap >= 1")
        if self.method == "unimax" and (
            not self.group_column
            or not self.text_column
            or self.budget_tokens is None
            or self.budget_tokens <= 0
        ):
            raise ValueError(
                "sample method=unimax needs group_column, text_column "
                "and budget_tokens > 0"
            )
        if self.method == "doremi" and (
            not self.group_column
            or not self.loss_column
            or self.budget_rows is None
            or self.budget_rows <= 0
        ):
            raise ValueError(
                "sample method=doremi needs group_column, loss_column "
                "and budget_rows > 0"
            )
        if self.method == "doremi_tokens" and (
            not self.group_column
            or not self.loss_column
            or not self.text_column
            or self.budget_tokens is None
            or self.budget_tokens <= 0
        ):
            raise ValueError(
                "sample method=doremi_tokens needs group_column, "
                "loss_column, text_column and budget_tokens > 0"
            )
        return self


class SplitSpec(BaseModel):
    """[engine extension] Declarative train/val/test split label
    (``operators/curation.py:hash_split``): a pure hash projection —
    zero shuffles, stable under repartitioning and appends.

    Setting ``folds`` switches to K-FOLD cross-validation assignment
    (``curation.hash_kfold``): the output column holds an integer fold
    in [0, folds) instead of a label; ``weights`` must then be unset."""

    id_column: str
    weights: Optional[dict] = None  # label -> weight; default 90/5/5
    folds: Optional[int] = Field(default=None, ge=2)
    seed: str = "s0"
    column_name: str = "split"

    @model_validator(mode="after")
    def _folds_exclusive(self) -> "SplitSpec":
        if self.folds is not None and self.weights is not None:
            raise ValueError(
                "split: folds (k-fold CV) and weights (labeled split) "
                "are mutually exclusive"
            )
        return self


class ExpectSpec(BaseModel):
    """[engine extension] One table-level data-quality expectation
    (``operators/expectations.py``): the dbt-test-shaped contract
    evaluated on the OUTGOING rows right before the write — a failing
    check aborts the table load (no partial publish), unlike per-row
    validation rules which rewrite or drop individual rows."""

    type: str  # row_count | not_null | unique | accepted_values | bounds | fk | freshness | k_anonymity | benford | quantile
    columns: List[str] = Field(default_factory=list)
    min: Optional[float] = None
    max: Optional[float] = None
    #: quantile only: which quantile of the column [min, max] bands —
    #: the DISTRIBUTION contract bounds can't express (a few outliers
    #: never move the median; a shifted corpus does)
    q: Optional[float] = None
    #: quantile only: percentile_approx accuracy — rank error ≤ n/accuracy
    #: (exact when the table is smaller); raise it when the band is
    #: tighter than the sketch error, at proportional memory cost
    accuracy: int = 10_000
    max_null_frac: float = 0.0
    values: List[str] = Field(default_factory=list)
    #: fk only: the parent table/column the column must resolve against
    #: (resolved target-first like lookups — the dimension lives on the
    #: target side)
    ref_table: Optional[str] = None
    ref_column: Optional[str] = None
    #: freshness only: explicit ISO reference instant + max allowed lag
    as_of: Optional[str] = None
    max_lag_hours: Optional[float] = None
    #: 'error' (default) aborts the load on failure; 'warn' only logs —
    #: the dbt-style soft check for contracts not yet enforced
    severity: str = "error"

    @field_validator("severity")
    @classmethod
    def _known_severity(cls, v: str) -> str:
        if v not in ("error", "warn"):
            raise ValueError(f"expectation severity must be error|warn, got {v!r}")
        return v

    @model_validator(mode="after")
    def _freshness_requirements(self) -> "ExpectSpec":
        if self.type == "freshness":
            if self.as_of is None or self.max_lag_hours is None:
                raise ValueError(
                    "expectation freshness needs as_of and max_lag_hours"
                )
            import datetime as _dt

            try:
                ref = _dt.datetime.fromisoformat(self.as_of)
            except ValueError as e:
                raise ValueError(
                    f"freshness as_of {self.as_of!r} is not ISO-8601: {e}"
                ) from None
            if ref.tzinfo is not None:
                raise ValueError(
                    "freshness as_of must be a NAIVE timestamp in the "
                    "Spark session timezone"
                )
        return self

    @field_validator("type")
    @classmethod
    def _known_type(cls, v: str) -> str:
        allowed = (
            "row_count", "not_null", "unique", "accepted_values", "bounds",
            "fk", "freshness", "k_anonymity", "benford", "quantile",
            "distinct_count",
        )
        if v not in allowed:
            raise ValueError(f"expectation type must be one of {allowed}, got {v!r}")
        return v

    @model_validator(mode="after")
    def _fk_requirements(self) -> "ExpectSpec":
        if self.type == "fk" and (
            len(self.columns) != 1 or not self.ref_table or not self.ref_column
        ):
            raise ValueError(
                "expectation type=fk needs exactly one column plus "
                "ref_table and ref_column"
            )
        if self.type == "quantile":
            if self.q is None or not (0.0 < self.q < 1.0):
                raise ValueError(
                    "expectation type=quantile needs q in (0, 1) "
                    f"(got {self.q}; for the max use a bounds check)"
                )
            if self.min is None and self.max is None:
                raise ValueError(
                    "expectation type=quantile needs min and/or max — "
                    "the allowed band for the observed quantile"
                )
        if self.type == "distinct_count" and (
            self.min is None and self.max is None
        ):
            raise ValueError(
                "expectation type=distinct_count needs min and/or max — "
                "the allowed band for the distinct cardinality"
            )
        return self


class Scd2Spec(BaseModel):
    """[engine extension] Declarative SCD Type-2 load mode
    (``operators/scd.py``): instead of the reference's
    truncate-and-replace (``/root/reference/plugins/default_loader.py:
    38-45``, which destroys history every run), the pipeline output is
    treated as an update batch and MERGED into the versioned dimension
    at the target — closed old versions, carried unchanged rows, new
    open versions.

    ``effective_time`` pins the batch's effective timestamp to a
    literal; ``effective_column`` derives it as the max of that
    pipeline column (e.g. an updated_at) — exactly one must be set.
    First run bootstraps the dimension (every row an open version)."""

    key: str
    compare_columns: List[str]
    effective_time: Optional[str] = None
    effective_column: Optional[str] = None
    valid_from: str = "valid_from"
    valid_to: str = "valid_to"

    @model_validator(mode="after")
    def _one_effective(self) -> "Scd2Spec":
        if (self.effective_time is None) == (self.effective_column is None):
            raise ValueError(
                "scd2 needs exactly one of effective_time / effective_column"
            )
        if not self.compare_columns:
            raise ValueError("scd2.compare_columns must be non-empty")
        return self


class QualityFilterSpec(BaseModel):
    """[engine extension] Declarative text-quality gate on the outgoing
    rows: ``method: heuristic`` (default — the length/punct/stopword
    score, ``operators/text.py:quality_score``) or ``method:
    classifier`` (the hashing-trick linear model,
    ``text.hashed_linear_expr``). Rows scoring below ``min_quality``
    are dropped (or routed to ``reject_table`` when set, mirroring the
    validation quarantine pattern); both methods are zero-shuffle pure
    projections.

    Keep policy: the default is the absolute ``min_quality`` bar;
    setting ``top_fraction`` switches to the per-group ADAPTIVE gate —
    keep the best fraction of EVERY ``group_column`` value by score
    (rank-exact integer quota, ``id_column`` tiebreak — the
    ``curation.keep_top_fraction`` semantics), which costs the one
    group-keyed window shuffle the adaptive policy fundamentally
    needs. NULL-scoring rows are rejects under both policies.

    ``method: ccnet`` is the CCNet per-LANGUAGE perplexity gate
    (``operators/curation.ccnet_buckets``'s keep side): rows scored by
    the corpus-self unigram-LM perplexity proxy and each
    ``group_column`` value keeps its lowest-perplexity ``top_fraction``
    — the one scoring method that costs a corpus aggregate (two
    word-count shuffles + an id-keyed join back), so it is batch-only
    and requires ``top_fraction``/``id_column``/``group_column``.

    ``method: gopher`` is the CATEGORICAL third option: the 7 hard
    MassiveText rules (``text.gopher_rule_conds``) — a row is kept iff
    every rule passes; there is no score, so ``min_quality`` is ignored
    and ``top_fraction`` is rejected. Rejects routed to
    ``reject_table`` carry a ``_failed_rules`` column naming the rules
    that fired (the per-rule audit a release gate needs).

    ``method: nb`` gates on a TRAINED multinomial Naive Bayes seed
    classifier (``operators/text.py:nb_train``'s two persisted frames,
    mounted through the job's target-then-source connectors like
    ``dedup.centroids_table``): a row is kept iff its argmax label is
    in ``keep_labels`` AND its margin (score gap to the runner-up, the
    abstention knob) reaches ``min_margin``. Token-less rows carry no
    evidence and are rejects. Needs ``id_column`` (the score joins
    back by id), ``nb_model_table``, ``nb_priors_table`` and a
    non-empty ``keep_labels``; ``min_quality``/``top_fraction`` don't
    apply (the verdict is categorical + margin); batch-only (the
    per-doc score is an aggregation over the exploded token stream)."""

    text_column: str
    method: str = "heuristic"  # heuristic | classifier | gopher | ccnet | nb
    min_quality: float = Field(default=0.5, ge=0.0, le=1.0)
    #: per-group adaptive policy (replaces min_quality when set)
    top_fraction: Optional[float] = Field(default=None, ge=0.0, le=1.0)
    id_column: Optional[str] = None
    group_column: Optional[str] = None
    reject_table: Optional[str] = None
    # classifier-only: a TRAINED model (e.g. from
    # operators/text.py:train_hashed_linear) inlined into the gate;
    # weights must have exactly n_features entries. None keeps the
    # closed-form stand-in weights.
    n_features: int = Field(default=64, ge=1)
    weights: Optional[list[float]] = None
    bias: float = 0.0
    #: nb-only: the persisted nb_train (model, priors) table names and
    #: the keep policy
    nb_model_table: Optional[str] = None
    nb_priors_table: Optional[str] = None
    keep_labels: Optional[List[str]] = None
    min_margin: float = Field(default=0.0, ge=0.0)

    @field_validator("method")
    @classmethod
    def _known_quality_method(cls, v: str) -> str:
        if v not in ("heuristic", "classifier", "gopher", "ccnet", "nb"):
            raise ValueError(
                "quality_filter method must be "
                f"heuristic|classifier|gopher|ccnet|nb, got {v!r}"
            )
        return v

    @model_validator(mode="after")
    def _nb_requirements(self) -> "QualityFilterSpec":
        nb_fields = [self.nb_model_table, self.nb_priors_table,
                     self.keep_labels]
        if self.method == "nb":
            if not all(nb_fields) or not self.keep_labels or not self.id_column:
                raise ValueError(
                    "quality_filter method: nb needs id_column, "
                    "nb_model_table, nb_priors_table and a non-empty "
                    "keep_labels"
                )
            if self.top_fraction is not None:
                raise ValueError(
                    "quality_filter method: nb is a categorical+margin "
                    "gate — top_fraction does not apply (threshold "
                    "min_margin instead)"
                )
        elif any(f is not None for f in nb_fields):
            raise ValueError(
                "quality_filter nb_model_table/nb_priors_table/"
                "keep_labels require method: nb"
            )
        elif self.min_margin != 0.0:
            # same guard as the other nb-only fields: a margin bar on a
            # non-nb method would be silently ignored — the masked-
            # misconfiguration class this validator exists to refuse
            raise ValueError(
                "quality_filter min_margin requires method: nb (the "
                "other methods gate on min_quality)"
            )
        return self

    @model_validator(mode="after")
    def _top_fraction_requirements(self) -> "QualityFilterSpec":
        if self.top_fraction is not None and (
            not self.id_column or not self.group_column
        ):
            raise ValueError(
                "quality_filter top_fraction needs id_column and "
                "group_column (deterministic tiebreak + the group key)"
            )
        if self.top_fraction is not None and self.method == "gopher":
            raise ValueError(
                "quality_filter top_fraction needs a scoring method "
                "(heuristic|classifier|ccnet) — method: gopher is a hard "
                "boolean gate with no rank to take a fraction of"
            )
        if self.method == "ccnet" and self.top_fraction is None:
            raise ValueError(
                "quality_filter method: ccnet is the per-group "
                "keep-lowest-perplexity gate — it needs top_fraction "
                "(the kept fraction per group_column); an absolute "
                "min_quality bar has no natural perplexity scale"
            )
        return self

    @model_validator(mode="after")
    def _weights_shape(self) -> "QualityFilterSpec":
        if self.weights is not None:
            if self.method != "classifier":
                raise ValueError(
                    "quality_filter.weights requires method: classifier"
                )
            if len(self.weights) != self.n_features:
                raise ValueError(
                    f"quality_filter.weights has {len(self.weights)} entries, "
                    f"expected n_features={self.n_features}"
                )
        return self


class CurriculumSpec(BaseModel):
    """[engine extension] Declarative curriculum schedule on the
    outgoing rows: adds a deterministic 0-based ``curriculum_idx``
    (global order over a difficulty score — easy→hard by default, id
    tiebreak) and a 1..``phases`` ``phase`` bucket with SQL-ntile
    semantics (``operators/curation.py:curriculum_order`` — two-phase
    global rank, never a single-partition sort). Order by an existing
    numeric ``score_column``, or set ``text_column`` to derive the
    heuristic quality score in-plan (rounded before ranking). Computed
    AFTER gates/sampling/split, so indices are dense over exactly the
    rows that ship."""

    id_column: str
    score_column: Optional[str] = None
    text_column: Optional[str] = None
    phases: int = Field(default=4, ge=1)
    easy_first: bool = True

    @model_validator(mode="after")
    def _one_score_source(self) -> "CurriculumSpec":
        if (self.score_column is None) == (self.text_column is None):
            raise ValueError(
                "curriculum needs exactly one of score_column (rank an "
                "existing column) or text_column (derive the heuristic "
                "quality score)"
            )
        return self


class ShardsSpec(BaseModel):
    """[engine extension] Deterministic training-shard export layout
    (``sinks/export.py:export_training_shards``): the files write
    becomes ``n`` hive shard directories in a reproducible
    pseudo-random order, with a ``_manifest.json`` completeness
    record."""

    n: int = Field(ge=1)
    id_column: str
    seed: str = "shard0"


class RewriteSpec(BaseModel):
    """[engine extension] Declarative text REWRITE stage on the outgoing
    rows (runs before the quality gate, matching the modern-pipeline
    order: rewrite → gate → mix → split):

    ``method: repeated_spans`` — cross-document boilerplate removal
    (``dedup.repeated_span_dedup``; ``stride`` < ``span_tokens``
    switches to the overlapping-window variant). Needs ``id_column``.
    Cost: the hot-set hash aggregate + one id-keyed rewrite join.
    ``method: scrub`` — URL/email placeholder scrubbing
    (``text.scrub_text``); zero-shuffle pure projection.
    ``method: intradoc_spans`` — WITHIN-document repeated-span collapse
    (``dedup.intradoc_span_dedup`` semantics as an in-row expression);
    zero-shuffle pure projection, zero-token rows keep their text."""

    text_column: str
    method: str  # repeated_spans | scrub | intradoc_spans
    id_column: Optional[str] = None
    span_tokens: int = Field(default=50, ge=1)
    min_docs: int = Field(default=2, ge=2)
    stride: Optional[int] = Field(default=None, ge=1)

    @field_validator("method")
    @classmethod
    def _known_rewrite_method(cls, v: str) -> str:
        if v not in ("repeated_spans", "scrub", "intradoc_spans"):
            raise ValueError(
                "rewrite method must be repeated_spans|scrub|"
                f"intradoc_spans, got {v!r}"
            )
        return v

    @model_validator(mode="after")
    def _rewrite_requirements(self) -> "RewriteSpec":
        if self.method == "repeated_spans" and not self.id_column:
            raise ValueError("rewrite method=repeated_spans needs id_column")
        if self.stride is not None and self.stride > self.span_tokens:
            raise ValueError(
                f"rewrite stride {self.stride} must be <= span_tokens "
                f"{self.span_tokens}"
            )
        return self


class AugmentSpec(BaseModel):
    """[engine extension] Declarative training-pair AUGMENTATION of the
    outgoing rows — runs LAST (after gate/mix/split: you corrupt what
    you ship, not what you discard). ``method: span_corruption``
    attaches deterministic T5-style denoising columns
    (``input_column`` / ``target_column``, default ``input_text`` /
    ``target_text``) built from ``text.span_mask_flags_expr`` +
    ``span_corruption_exprs`` — masks are (id, span, seed) hashes, not
    RNG, so re-runs and incremental appends corrupt identically.
    Zero-token documents keep their row with NULL pair columns (an
    augment stage must never drop rows). ENTIRELY in-row (no join, no
    shuffle) — streams per micro-batch unchanged.

    ``method: fim`` attaches fill-in-the-middle pairs (Bavarian et al.
    2022, ``text.fim_exprs``): a deterministic ``rate_permille``
    fraction of rows is cut at two (id, seed)-hash character positions
    and serialized PSM-style — ``input_column`` =
    ``<PRE>prefix<SUF>suffix<MID>``, ``target_column`` = middle; the
    rest keep the whole text as ``input_column`` with a NULL target
    (the joint FIM+AR mix). Same in-row/no-RNG/streaming contract."""

    text_column: str
    id_column: str
    method: str = "span_corruption"
    span_tokens: int = Field(default=5, ge=1)
    mask_permille: int = Field(default=150, ge=0, le=1000)
    rate_permille: int = Field(default=500, ge=0, le=1000)  # fim only
    seed: str = "sc0"
    input_column: str = "input_text"
    target_column: str = "target_text"

    @field_validator("method")
    @classmethod
    def _known_augment_method(cls, v: str) -> str:
        if v not in ("span_corruption", "fim"):
            raise ValueError(
                f"augment method must be span_corruption or fim, got {v!r}"
            )
        return v


class DecontaminateSpec(BaseModel):
    """[engine extension] Declarative EVAL DECONTAMINATION of the
    outgoing rows: drop every row of the pipeline whose ``text_column``
    matches the ``benchmark_table`` (read through the source/target
    connectors, optionally pre-filtered by ``benchmark_where``). Runs
    AFTER the rewrite stage and BEFORE the quality gate — contaminated
    rows must not survive into training splits no matter how well they
    score. Dropped rows route to ``reject_table`` (when set) with
    audit columns. Batch-only: the pair aggregate is corpus-wide.

    ``method: ngram`` (default) is the exact verbatim check
    (``dedup.ngram_overlap_pairs``, the GPT-3 appendix-C rule): a row
    is contaminated when it shares >= ``min_shared`` word
    ``ngram``-grams with any benchmark row; audit columns
    ``_matched_benchmark_docs`` / ``_shared_ngrams``. The benchmark
    gram postings are broadcast (eval suites are MBs) — the pipeline
    frame never shuffles before the pair count.

    ``method: minhash`` is the NEAR-DUP check
    (``dedup.minhash_join``): a row is contaminated when its exact
    Jaccard to any benchmark row reaches ``threshold`` (LSH candidates
    at ``num_hashes``/``bands``, exact-verified) — catches reworded
    benchmark copies the verbatim n-gram rule misses; audit columns
    ``_matched_benchmark_docs`` / ``_max_jaccard``. Both sides stream
    ids+hashes through the band join; the benchmark side's banded
    signatures broadcast by size.

    ``method: semantic`` is the EMBEDDING-SPACE check
    (``similarity.semantic_contamination``): a row is contaminated
    when its cosine to any benchmark row's ``vector_column`` reaches
    ``threshold`` — the paraphrase catch where no verbatim text
    survives at all; ``text_column`` is unused, set ``vector_column``
    (and ``benchmark_vector_column`` when the names differ). Exact
    scoring against the broadcast (size-guarded) benchmark vectors;
    audit columns ``_matched_benchmark_docs`` / ``_max_cosine``."""

    method: str = "ngram"  # ngram | minhash | semantic
    benchmark_table: str
    text_column: Optional[str] = None  # ngram/minhash (required there)
    id_column: str
    benchmark_text_column: Optional[str] = None  # default: text_column
    benchmark_id_column: Optional[str] = None  # default: synthesized
    benchmark_where: Optional[str] = None
    ngram: int = Field(default=13, ge=1)
    min_shared: int = Field(default=1, ge=1)
    #: minhash/semantic knobs (Jaccard resp. cosine threshold)
    threshold: float = 0.8
    num_hashes: int = 128
    bands: int = 32
    shingle_n: int = 3
    #: semantic knobs
    vector_column: Optional[str] = None
    benchmark_vector_column: Optional[str] = None  # default: vector_column
    reject_table: Optional[str] = None
    #: minhash only — mount a PERSISTED near-dup pair table
    #: (``minhash_near_dups``' (id_i, id_j, jaccard) layout, treated as
    #: UNDIRECTED) instead of re-running the banded join: a job that
    #: both dedups AND decontaminates pays the corpus mining pass ONCE
    #: (the decontaminate twin of ``DedupSpec.pairs_table``). Requires
    #: ``benchmark_id_column`` — endpoint membership is re-derived by
    #: semi-joining id_i against the pipeline ids and id_j against the
    #: (where-filtered) benchmark ids, which needs STABLE benchmark ids
    #: (the synthesized fallback id is per-run). Pairs below
    #: ``threshold`` are re-filtered on mount, so one low-threshold
    #: pair table serves consumers at any stricter threshold. Caveat:
    #: the undirected corpus layout carries no self-pairs (id_i <
    #: id_j), so if the pipeline's rows can themselves appear in the
    #: benchmark slice (no disjoint ``where`` split), use inline
    #: mining — a row is trivially contaminated by its own benchmark
    #: copy and only the cross-corpus join sees that pair.
    pairs_table: Optional[str] = None
    # loud-failure cap on the broadcast sides (benchmark gram postings
    # AND the flagged-id set): a user-declared oversized benchmark_table
    # must fail at plan-build, not OOM executors mid-join
    broadcast_limit: int = Field(default=20_000_000, ge=1)
    #: ngram only — how the benchmark gram postings meet the pipeline:
    #: ``broadcast`` (default; size-guarded) or ``bloom`` (fixed-size
    #: Bloom-bitmap prescreen + shuffled equi-join — the escape hatch
    #: for benchmark sets the guard refuses; result identical by
    #: construction, see ``dedup.ngram_overlap_pairs``)
    bench_join: str = "broadcast"
    bloom_m_bits: int = Field(default=1 << 20, ge=64)

    @field_validator("method")
    @classmethod
    def _known_decon_method(cls, v: str) -> str:
        # fail at spec-parse time like the other method enums — a typo
        # must not survive until deep in compile_table (ADVICE r8)
        if v not in ("ngram", "minhash", "semantic"):
            raise ValueError(
                f"decontaminate method must be ngram|minhash|semantic, "
                f"got {v!r}"
            )
        return v

    @field_validator("bench_join")
    @classmethod
    def _known_bench_join(cls, v: str) -> str:
        if v not in ("broadcast", "bloom"):
            raise ValueError(
                f"decontaminate bench_join must be broadcast|bloom, got {v!r}"
            )
        return v

    @field_validator("bloom_m_bits")
    @classmethod
    def _bloom_m_bits_shape(cls, v: int) -> int:
        # mirror the operator's _bloom_validate at PARSE time (the
        # sibling-knob rule): under --explain the bloom path falls back
        # to the broadcast shape, so an invalid value would otherwise
        # pass plan review and only die in the production run
        if v > (1 << 22) or (v & (v - 1)) != 0:
            raise ValueError(
                "decontaminate bloom_m_bits must be a power of two "
                f"<= {1 << 22}, got {v}"
            )
        return v

    @model_validator(mode="after")
    def _bench_join_contract(self) -> "DecontaminateSpec":
        if self.bench_join == "bloom" and self.method != "ngram":
            raise ValueError(
                "decontaminate bench_join=bloom only applies to method "
                f"ngram, not {self.method!r}"
            )
        return self

    @model_validator(mode="after")
    def _pairs_table_contract(self) -> "DecontaminateSpec":
        if self.pairs_table is not None:
            if self.method != "minhash":
                raise ValueError(
                    "decontaminate pairs_table only applies to method "
                    f"minhash, not {self.method!r}"
                )
            if not self.benchmark_id_column:
                raise ValueError(
                    "decontaminate pairs_table requires "
                    "benchmark_id_column: persisted pair endpoints can "
                    "only be matched against STABLE benchmark ids (the "
                    "synthesized fallback id changes every run)"
                )
        return self


class VectorTransformSpec(BaseModel):
    """[engine extension] Declarative EMBEDDING-COLUMN normalization of
    the outgoing rows — the vector half of the rewrite stage, run
    BEFORE declarative dedup so ``dedup.method: semantic`` measures the
    normalized space:

    ``method: l2_normalize`` — unit vectors (cosine becomes a dot
    product downstream); per-row, zero corpus stats, streams.
    ``method: whiten`` — per-dimension z-score standardization against
    the corpus' rounded dim stats (``similarity.whiten_expr``);
    zero-variance dims map to 0. Batch-only (needs corpus stats).
    ``method: abtt`` — All-But-The-Top: subtract the mean and project
    out the top principal component (``similarity.abtt_expr`` over
    ``pca_power``'s rounded literals) — the anisotropy fix. Batch-only.

    ``output_column`` defaults to rewriting ``vector_column`` in place;
    name a new column to keep the raw vectors alongside."""

    method: str  # l2_normalize | whiten | abtt
    vector_column: str
    output_column: Optional[str] = None

    @field_validator("method")
    @classmethod
    def _known_vt_method(cls, v: str) -> str:
        if v not in ("l2_normalize", "whiten", "abtt"):
            raise ValueError(
                "vector_transform method must be "
                f"l2_normalize|whiten|abtt, got {v!r}"
            )
        return v


class FirstSightingSpec(BaseModel):
    """[engine extension] Declarative STREAMING cross-drain ingestion
    dedup (SURVEY.md §2.9/§2.11) — the ``mode: streaming`` surface of
    the Bloom first-sighting monitor (``streaming/bloom_monitor.py``):
    rows whose ``key_column`` the folded Bloom index PROVES never
    ingested by an earlier drain flow to the target; hits (real
    re-ingests plus the ε false-positive sliver — the one-sided Bloom
    contract) are dropped, or ROUTED to ``overflow_table`` (appended
    through the target connector, the ``quarantine_table`` pattern)
    when the dedup must be lossless: only that sliver ever needs the
    exact anti-join against history.

    Complements the watermarked ``dedup:`` stage, not replaces it:
    ``dedup`` is EXACT within the event-time horizon (bounded state);
    ``first_sighting`` is approximate-but-one-sided across ALL history
    with fixed state (≤ m_bits/64 longs forever — 512 KiB at the m
    cap for a billion-key horizon). Verdicts are CROSS-batch:
    within-batch repeats all probe the pre-batch index. NULL keys
    always pass (membership of NULL is meaningless).

    When combined with ``frequency_cap:`` on the same table, first
    sighting gates FIRST (dedup before capping), and each stage's
    monitor counts what reached it."""

    key_column: str
    m_bits: int = 1 << 16
    k: int = 5
    seed: str = "bloom"
    #: lossless routing: append maybe-seen rows here (target connector)
    #: instead of dropping them
    overflow_table: Optional[str] = None

    @model_validator(mode="after")
    def _bloom_layout_shape(self) -> "FirstSightingSpec":
        # mirror operators/aggstate._bloom_validate at PARSE time (the
        # sibling-knob rule): a bad layout must fail at spec load, not
        # at the first micro-batch
        if (
            self.m_bits < 64
            or self.m_bits > (1 << 22)
            or (self.m_bits & (self.m_bits - 1)) != 0
        ):
            raise ValueError(
                "first_sighting m_bits must be a power of two in "
                f"[64, {1 << 22}], got {self.m_bits}"
            )
        if not (1 <= self.k <= 16):
            raise ValueError(
                f"first_sighting k must be in [1, 16], got {self.k}"
            )
        return self


class SamplePanelSpec(BaseModel):
    """[engine extension] Declarative STREAMING eval-panel maintenance
    (SURVEY.md §2.9/§2.11) — the ``mode: streaming`` surface of the
    bottom-k sample state (``operators/aggstate.py:build_sample_state``,
    ``streaming/kmv_monitor.py``): every drained micro-batch appends a
    bottom-``k``-by-portable-hash id sample of the rows that REACHED
    THE TARGET (post ``first_sighting:``/``frequency_cap:`` gates —
    the panel samples the corpus you actually kept), one per
    ``group_columns`` tuple. Folding the increments yields, at any
    moment, the uniform without-replacement k-panel of everything
    ingested so far — mergeable, prefix-consistent (rank ≤ j is the
    uniform j-panel), stable (a member leaves only when crowded out by
    a smaller hash), and row-for-row identical to a batch build.
    Rows flow to the target UNCHANGED — the panel is a side artifact
    under the stream state dir, read back with ``--panel`` or
    ``streaming/kmv_monitor.py:current_panel``.

    ``group_columns`` must be non-empty (panels are per-group by
    design; for one global panel add a constant column with
    ``insert:`` and group on it — an explicit choice, because a
    global panel funnels every batch through one ranking group)."""

    group_columns: List[str]
    id_column: str
    k: int = Field(default=64, ge=1)
    seed: str = "smp"
    #: payload columns kept alongside each sampled id (each a pure
    #: function of the id — the carry contract); with a carry,
    #: ``--panel`` flips from the member listing to RANGE-FREE
    #: nearest-rank quantiles of the FIRST carry column (the batch
    #: ``state: {kind: sample, carry: [...]}`` read-side rule)
    carry: List[str] = Field(default_factory=list)
    #: quantiles the carry read side finalizes
    quantiles: List[float] = Field(default_factory=lambda: [0.5, 0.9, 0.99])

    @field_validator("group_columns")
    @classmethod
    def _groups_non_empty(cls, v: "List[str]") -> "List[str]":
        if not v:
            raise ValueError("sample_panel group_columns must be non-empty")
        return v

    @model_validator(mode="after")
    def _carry_shape(self) -> "SamplePanelSpec":
        clash = [
            c for c in self.carry
            if c == self.id_column or c in self.group_columns
        ]
        if clash:
            raise ValueError(
                f"sample_panel carry columns {clash} collide with "
                "id_column/group_columns — a carry is an EXTRA payload"
            )
        if len(set(self.carry)) != len(self.carry):
            raise ValueError(
                f"duplicate sample_panel carry columns: {self.carry}"
            )
        for q in self.quantiles:
            if not (0.0 < q <= 1.0):
                raise ValueError(
                    f"sample_panel quantiles must be in (0, 1], got {q}"
                )
        return self


class TokenBudgetSpec(BaseModel):
    """[engine extension] Declarative STREAMING per-group token budget
    (SURVEY.md §2.9/§2.11) — the ``mode: streaming`` twin of the batch
    token-budget samplers (``sample.method: token_budget`` / unimax /
    doremi_tokens), via ``streaming/budget_monitor.py``: a group whose
    RUNNING ADMITTED total of ``weight_column`` (exact integer fold of
    the per-drain increments) has reached ``budget`` stops flowing to
    the target — "collect at most B tokens per domain across however
    many drains it takes". Verdicts are CROSS-batch and GROUP-level
    (a group can overshoot by at most one batch's tokens before the
    gate closes — size micro-batches with
    ``incremental.max_files_per_trigger`` if the overshoot bound
    matters); over-budget rows drop, or route to ``overflow_table``
    (target connector, the quarantine pattern) when they must remain
    auditable. NULL group values always pass and contribute no state;
    NULL weights count 0. Gates AFTER ``first_sighting:`` and
    ``frequency_cap:`` when combined (dedup, then repeat-cap, then
    budget — each stage's monitor counts what reached it)."""

    group_columns: List[str]
    weight_column: str
    budget: int = Field(gt=0)
    #: auditable routing: append over-budget rows here instead of
    #: dropping them
    overflow_table: Optional[str] = None

    @field_validator("group_columns")
    @classmethod
    def _tb_groups_non_empty(cls, v: "List[str]") -> "List[str]":
        if not v:
            raise ValueError("token_budget group_columns must be non-empty")
        return v


class FrequencyCapSpec(BaseModel):
    """[engine extension] Declarative STREAMING frequency cap
    (SURVEY.md §2.9/§2.11) — the ``mode: streaming`` surface of the
    mergeable Count-Min Sketch state (``streaming/cms_monitor.py``,
    batch anchor ``agg_cms_heavy_hitters``): rows whose
    ``key_column``'s RUNNING ingested frequency (estimated against the
    folded CMS state of every earlier micro-batch) has reached ``cap``
    stop flowing to the target — the repeated-boilerplate guard at
    ingestion, with fixed state and no history join.

    Verdicts are CROSS-batch and one-sided (the CMS contract): an
    under-cap estimate PROVES the key is under it; an over-cap verdict
    can carry collision mass at the sketch's documented ε. When the cap
    must be strict, set ``overflow_table``: the maybe-over-cap sliver
    is ROUTED there (appended through the target connector, like
    ``quarantine_table``) instead of dropped, so an exact offline check
    can audit or reclaim it — only that sliver ever needs the expensive
    exact path. ``overflow_table: null`` drops over-cap rows with the
    per-batch report (n_rows, n_keys, n_over_cap, n_under_cap) as the
    only record. NULL keys carry no verdict and always pass (frequency
    of NULL is meaningless — the ``estimate_cms`` contract).

    State/report land as per-batch-id subdirectory appends under the
    stream's state dir (crash-replayed batches overwrite their own
    pieces — the monitor family's idempotency rule); layout
    (width/depth/seed) travels in the state and drift fails loudly at
    the next fold. Size ``width`` for the key-cardinality horizon:
    the whole state is ≤ width·depth ≤ 64 Ki longs forever."""

    key_column: str
    cap: int = Field(default=1, ge=1)
    width: int = 1 << 12
    depth: int = 4
    seed: str = "cms"
    #: strict exact-check routing: append maybe-over-cap rows here
    #: (target connector) instead of dropping them
    overflow_table: Optional[str] = None

    @model_validator(mode="after")
    def _cms_layout_shape(self) -> "FrequencyCapSpec":
        # mirror operators/aggstate._cms_validate at PARSE time (the
        # sibling-knob rule, like decontaminate.bloom_m_bits): a bad
        # layout must fail at spec load, not at the first micro-batch
        if self.width < 16 or (self.width & (self.width - 1)) != 0:
            raise ValueError(
                "frequency_cap width must be a power of two >= 16, "
                f"got {self.width}"
            )
        if not (1 <= self.depth <= 8):
            raise ValueError(
                f"frequency_cap depth must be in [1, 8], got {self.depth}"
            )
        if self.width * self.depth > (1 << 16):
            raise ValueError(
                f"frequency_cap width*depth = {self.width * self.depth} "
                f"exceeds the {1 << 16}-cell collected-probe cap"
            )
        return self


class AggStateSpec(BaseModel):
    """[engine extension] Declarative MERGEABLE-AGGREGATE-STATE
    maintenance (SURVEY.md §2.9/§2.11) — the ``mode: batch`` twin of
    the streaming monitor quartet, closing the aggstate story for YAML
    users: each nightly run of an ``incremental.mode: batch`` table
    ALSO appends one bounded state increment built from the rows it
    loaded (``operators/statemaint.py`` dispatching into
    ``operators/aggstate.py``), and the read side (``--state`` verb /
    ``read_folded_state``) folds every increment into the lifetime
    state WITHOUT rescanning history — O(tonight's rows) per night and
    O(increments × state-size) per read, never O(lifetime rows).

    Six state kinds, each the family's documented fold:

    - ``kmv`` — per-``keys`` bottom-k distinct sketch of
      ``value_column`` (fold exact, estimate replayable)
    - ``sample`` — per-``keys`` bottom-k uniform id panel (fold ==
      full-history build row-for-row, prefix-consistent); with
      ``carry:`` payload columns the read side turns into range-free
      nearest-rank quantiles of the first carried value
    - ``stats`` — per-``keys`` count/sum/ssq/min/max monoid of
      ``value_column`` (exact)
    - ``hist`` — per-``keys`` equi-width histogram of ``value_column``
      over the declared ``[lo, hi)`` × ``n_buckets`` layout (exact
      fold; quantiles bounded by one bucket width)
    - ``bloom`` — global membership filter of ``value_column``
      (word-OR fold; no-false-negative probes)
    - ``cms`` — global frequency sketch of ``value_column`` (cell-SUM
      fold; never-underestimate probes)

    Increments land under ``state_path`` (default
    ``.state/<source>__<target>/agg_state``) in per-watermark-window
    subdirectories written with overwrite — a retried run over the
    same (mark, new-mark] window replaces its own piece instead of
    double-counting (the monitor family's idempotency rule, which
    matters for the NON-duplicate-proof folds: cms/stats/hist). Layout
    (k/seed/m/width/depth/lo/hi/buckets) travels IN the state rows and
    any drift across increments fails LOUDLY at fold time — the family
    contract. A run that admits no new rows appends nothing."""

    kind: str  # kmv | sample | stats | hist | bloom | cms
    #: the column sketched/sampled/summed (TARGET-side name — the
    #: state builds from the outgoing pipeline rows)
    value_column: str
    #: group keys (target-side names) for the keyed kinds; must stay
    #: empty for the global kinds (bloom/cms)
    keys: List[str] = Field(default_factory=list)
    #: kmv/sample bottom-k size (default 64); bloom hash count
    #: (default 5)
    k: Optional[int] = None
    #: hash seed (default = the kind name, matching the library)
    seed: Optional[str] = None
    m_bits: int = 1 << 16  # bloom filter size (power of two)
    width: int = 1 << 12  # cms width (power of two)
    depth: int = 4  # cms depth
    #: cms/hist only: sum this column instead of counting rows (hist:
    #: nonneg INTEGER weights — the finalized quantiles become
    #: weighted quantiles, a weight-3 row ≡ the row three times)
    weight_column: Optional[str] = None
    #: sample only: payload columns kept alongside each sampled id
    #: (each must be a pure function of the id — the carry contract);
    #: with a carry, the --state read side finalizes RANGE-FREE
    #: nearest-rank quantiles of the FIRST carry column instead of
    #: printing the panel (the quantile question kind: hist can't
    #: answer when [lo, hi) isn't known up front)
    carry: List[str] = Field(default_factory=list)
    lo: Optional[float] = None  # hist range (required for kind: hist)
    hi: Optional[float] = None
    n_buckets: int = 128  # hist buckets
    #: read side: quantiles the --state verb finalizes (kind: hist
    #: always; kind: sample when a carry is declared)
    quantiles: List[float] = Field(default_factory=lambda: [0.5, 0.9, 0.99])
    #: where increments land; default .state/<source>__<target>/agg_state
    state_path: Optional[str] = None

    _KEYED = ("kmv", "sample", "stats", "hist")
    _GLOBAL = ("bloom", "cms")

    @model_validator(mode="after")
    def _state_shape(self) -> "AggStateSpec":
        kinds = self._KEYED + self._GLOBAL
        if self.kind not in kinds:
            raise ValueError(
                f"state kind must be one of {'|'.join(kinds)}, "
                f"got {self.kind!r}"
            )
        if self.kind in self._KEYED and not self.keys:
            raise ValueError(
                f"state kind={self.kind} needs keys: the per-group "
                "columns the state is maintained for (for a single "
                "global group, key on a constant column)"
            )
        if self.kind in self._GLOBAL and self.keys:
            raise ValueError(
                f"state kind={self.kind} is a global sketch over "
                f"value_column — it takes no keys (got {self.keys})"
            )
        if self.kind == "hist" and (self.lo is None or self.hi is None):
            raise ValueError(
                "state kind=hist needs the declared bucket range: lo + hi"
            )
        if self.kind == "hist" and not (self.hi > self.lo):
            raise ValueError(
                f"state kind=hist needs hi > lo, got [{self.lo}, {self.hi})"
            )
        if self.weight_column is not None and self.kind not in ("cms", "hist"):
            raise ValueError(
                "state weight_column only applies to kind: cms (weighted "
                "frequency) or kind: hist (weighted quantiles)"
            )
        if self.carry and self.kind != "sample":
            raise ValueError(
                "state carry only applies to kind: sample (payload "
                "columns kept alongside each sampled id)"
            )
        if self.carry:
            clash = [
                c for c in self.carry
                if c == self.value_column or c in self.keys
            ]
            if clash:
                raise ValueError(
                    f"state carry columns {clash} collide with "
                    "value_column/keys — a carry is an EXTRA payload"
                )
            if len(set(self.carry)) != len(self.carry):
                raise ValueError(f"duplicate state carry columns: {self.carry}")
        # mirror the operators' layout validation at PARSE time (the
        # sibling-knob rule) — a bad layout must fail at spec load,
        # not at the first nightly increment
        if self.kind == "bloom":
            if self.m_bits < 64 or (self.m_bits & (self.m_bits - 1)) != 0:
                raise ValueError(
                    "state m_bits must be a power of two >= 64, "
                    f"got {self.m_bits}"
                )
            if not (1 <= (self.k or 5) <= 16):
                raise ValueError(
                    f"state kind=bloom k (hash count) must be in [1, 16], "
                    f"got {self.k}"
                )
        if self.kind in ("kmv", "sample") and self.k is not None and self.k < 2:
            raise ValueError(f"state kind={self.kind} k must be >= 2, got {self.k}")
        if self.kind == "cms":
            if self.width < 16 or (self.width & (self.width - 1)) != 0:
                raise ValueError(
                    f"state width must be a power of two >= 16, got {self.width}"
                )
            if not (1 <= self.depth <= 8):
                raise ValueError(
                    f"state depth must be in [1, 8], got {self.depth}"
                )
            if self.width * self.depth > (1 << 16):
                raise ValueError(
                    f"state width*depth = {self.width * self.depth} exceeds "
                    f"the {1 << 16}-cell collected-probe cap"
                )
        if self.kind == "hist" and self.n_buckets < 1:
            raise ValueError(
                f"state n_buckets must be >= 1, got {self.n_buckets}"
            )
        for q in self.quantiles:
            if not (0.0 < q <= 1.0):
                raise ValueError(f"state quantiles must be in (0, 1], got {q}")
        return self

    @property
    def effective_k(self) -> int:
        return self.k if self.k is not None else (5 if self.kind == "bloom" else 64)

    @property
    def effective_seed(self) -> str:
        if self.seed is not None:
            return self.seed
        return {"sample": "smp"}.get(self.kind, self.kind)


class TableSpec(BaseModel):
    """Per-table job spec (reference ``TableConfig``,
    ``/root/reference/mappings/parser.py:77-133``)."""

    source_table: str
    source_schema: Optional[str] = None
    target_table: str
    target_schema: Optional[str] = "public"
    fetcher_plugin: Optional[str] = None
    mappings: Optional[List[MappingSpec]] = None
    where: Optional[str] = None
    transform_override: bool = False
    transform_plugins: Optional[List[str]] = None
    validation_plugins: Optional[List[str]] = None
    loader_plugin: Optional[str] = None
    # --- engine extensions ---
    partition_column: Optional[str] = None  # JDBC read parallelism
    num_partitions: Optional[int] = None
    write_mode: str = "overwrite"  # overwrite (≈ reference TRUNCATE+load) | append
    incremental: Optional[IncrementalSpec] = None
    #: hive-style output partitioning (file sinks only — a JDBC target
    #: has no directory layout, so setting it there is a config error)
    partition_by: Optional[List[str]] = None
    #: within-partition sort for row-group pruning / compression
    sort_by: Optional[List[str]] = None
    #: Z-order (Morton-curve) clustered layout over >= 2 columns: every
    #: file covers a narrow box in ALL named columns, so min/max pruning
    #: works for filters on ANY of them (files targets only; mutually
    #: exclusive with sort_by/partition_by — one layout per table)
    zorder_by: Optional[List[str]] = None
    #: declarative dedup of the outgoing rows (exact | fingerprint)
    dedup: Optional[DedupSpec] = None
    #: where rows rejected by ``on_fail: quarantine`` validation rules
    #: are written (same connector as the target); None drops them with
    #: a warning
    quarantine_table: Optional[str] = None
    #: declarative per-group sampling (data mixing) of the outgoing rows
    sample: Optional[SampleSpec] = None
    #: declarative split-label column on the outgoing rows
    split: Optional[SplitSpec] = None
    #: SCD Type-2 load mode: merge the outgoing rows into the versioned
    #: dimension at the target instead of truncate-and-replace
    scd2: Optional[Scd2Spec] = None
    #: table-level data-quality gate on the outgoing rows: ALL checks
    #: must pass or the load aborts before anything is written
    expectations: Optional[List[ExpectSpec]] = None
    #: row-level lineage: add ``_source_file`` (the scan file each row
    #: came from; empty for JDBC sources) and ``_load_id`` (one uuid per
    #: run) to the output — the audit columns migration sign-offs ask
    #: for ("which file produced this row, in which run?")
    lineage: bool = False
    #: write ``_manifest.json`` (rows, schema, null counts, layout)
    #: beside a files target after each load — the dataset card
    manifest: bool = False
    #: training-shard export layout (files targets only; a LAYOUT
    #: choice like zorder_by — mutually exclusive with the others)
    shards: Optional[ShardsSpec] = None
    #: declarative text-quality gate on the outgoing rows
    quality_filter: Optional[QualityFilterSpec] = None
    #: declarative text rewrite (span dedup / scrubbing) BEFORE the gate
    rewrite: Optional[RewriteSpec] = None
    #: declarative exact n-gram eval decontamination (rewrite → THIS →
    #: gate): rows sharing grams with the benchmark table are dropped
    decontaminate: Optional[DecontaminateSpec] = None
    #: declarative training-pair augmentation — runs LAST, adds columns
    augment: Optional[AugmentSpec] = None
    #: declarative curriculum index/phase columns on the outgoing rows
    curriculum: Optional[CurriculumSpec] = None
    #: declarative embedding-column normalization (runs BEFORE dedup so
    #: semantic dedup sees the normalized space)
    vector_transform: Optional[VectorTransformSpec] = None
    #: streaming-only: CMS-backed ingestion frequency cap on the
    #: outgoing rows (see ``FrequencyCapSpec``)
    frequency_cap: Optional[FrequencyCapSpec] = None
    #: streaming-only: Bloom-backed cross-drain ingestion dedup on the
    #: outgoing rows (see ``FirstSightingSpec``; gates BEFORE
    #: frequency_cap when both are declared)
    first_sighting: Optional[FirstSightingSpec] = None
    #: streaming-only: maintain a bottom-k uniform eval panel of the
    #: KEPT rows as a side artifact (see ``SamplePanelSpec``)
    sample_panel: Optional[SamplePanelSpec] = None
    #: streaming-only: per-group admitted-token budget gate on the
    #: outgoing rows (see ``TokenBudgetSpec``; gates AFTER
    #: first_sighting/frequency_cap)
    token_budget: Optional[TokenBudgetSpec] = None
    #: batch-incremental-only: append bounded mergeable-aggregate
    #: state increment(s) per nightly run (see ``AggStateSpec``); read
    #: the folded lifetime state with ``--state``. ONE mapping or a
    #: LIST of them — a nightly job commonly maintains several
    #: sketches of the same load (distinct users AND a latency
    #: histogram); each block folds independently from its own
    #: directory (``compiler.state_dirs`` derives collision-checked
    #: defaults)
    state: Optional[Union[AggStateSpec, List[AggStateSpec]]] = None

    @property
    def state_blocks(self) -> "List[AggStateSpec]":
        """The ``state:`` declaration normalized to a list (empty when
        absent) — every consumer iterates this, never the raw field."""
        if self.state is None:
            return []
        return list(self.state) if isinstance(self.state, list) else [self.state]

    @model_validator(mode="after")
    def _zorder_combinations(self) -> "TableSpec":
        """zorder_by is one LAYOUT choice — combining it with another
        layout (sort_by/partition_by) or a write path that never reaches
        the z-ordered sink (scd2 merge, streaming drains) is a config
        error caught HERE, at spec load, before any compute (a runtime
        raise would come after the pre-write expectation scans)."""
        if self.zorder_by:
            if self.sort_by or self.partition_by:
                raise ValueError(
                    "zorder_by is mutually exclusive with sort_by/"
                    "partition_by — pick one layout"
                )
            if self.scd2 is not None:
                raise ValueError("zorder_by cannot combine with scd2 (the merge owns its write)")
            if self.incremental is not None and self.incremental.mode == "streaming":
                raise ValueError("zorder_by cannot combine with streaming mode")
        if self.shards is not None:
            if self.zorder_by or self.sort_by or self.partition_by:
                raise ValueError(
                    "shards is a layout choice — mutually exclusive with "
                    "zorder_by/sort_by/partition_by"
                )
            if self.scd2 is not None or self.incremental is not None:
                # the exporter rewrites the WHOLE corpus deterministically;
                # an incremental delta would overwrite all prior shards
                raise ValueError(
                    "shards cannot combine with scd2 or incremental modes "
                    "(the export is a full-corpus rewrite)"
                )
            if self.write_mode != "overwrite":
                raise ValueError(
                    "shards requires write_mode=overwrite (full-corpus rewrite)"
                )
            if self.manifest:
                raise ValueError(
                    "shards writes its own _manifest.json (shard counts + "
                    "seed) — drop manifest: true"
                )
        if self.frequency_cap is not None and (
            self.incremental is None or self.incremental.mode != "streaming"
        ):
            # the cap's whole semantic is "running frequency across
            # micro-batches" — on a batch table the equivalent is a
            # plain groupBy/window over the corpus (agg_cms_heavy_hitters
            # anchors the batch twin); silently accepting it here would
            # cap nothing
            raise ValueError(
                "frequency_cap requires incremental.mode: streaming — "
                "for a batch table use a window/groupBy over the corpus "
                "(the CMS batch operators in operators/aggstate.py)"
            )
        if self.first_sighting is not None and (
            self.incremental is None or self.incremental.mode != "streaming"
        ):
            # same rule: "seen by an earlier drain" has no meaning on a
            # batch table — use dedup: (exact) there
            raise ValueError(
                "first_sighting requires incremental.mode: streaming — "
                "for a batch table use the dedup: stage (exact)"
            )
        if self.sample_panel is not None and (
            self.incremental is None or self.incremental.mode != "streaming"
        ):
            raise ValueError(
                "sample_panel requires incremental.mode: streaming — on a "
                "batch table call operators/aggstate.build_sample_state "
                "directly (one pass, no increments to maintain)"
            )
        if self.token_budget is not None and (
            self.incremental is None or self.incremental.mode != "streaming"
        ):
            raise ValueError(
                "token_budget requires incremental.mode: streaming — for a "
                "batch table use sample.method: token_budget / unimax (one "
                "corpus pass, no running state)"
            )
        if self.state is not None:
            if isinstance(self.state, list) and not self.state:
                raise ValueError(
                    "state: an empty list declares nothing — remove the "
                    "block or declare at least one state mapping"
                )
            if self.incremental is None:
                # a full-refresh table re-sees every row each run: a
                # state "increment" would re-count history nightly —
                # exactly the O(lifetime) rescan the block exists to kill
                raise ValueError(
                    "state requires incremental.mode: batch — a non-"
                    "incremental table has no bounded nightly increment "
                    "to fold; build the state in one pass with "
                    "operators/aggstate.build_* instead"
                )
            if self.incremental.mode != "batch":
                raise ValueError(
                    "state requires incremental.mode: batch — on a "
                    "streaming table use the monitor blocks "
                    "(first_sighting / frequency_cap / sample_panel / "
                    "token_budget) or the library monitors in "
                    "streaming/, which maintain the same folds per drain"
                )
        return self


class GlobalSpec(BaseModel):
    """Reference ``GlobalConfig`` (``/root/reference/mappings/parser.py:135-162``).
    ``batch_size`` maps onto JDBC fetchsize/batchsize rather than a
    driver-side row buffer."""

    logging: Optional[LoggingSpec] = None
    tables_folder: str = "tables"
    batch_size: int = Field(default=5000, ge=1)
    auto_mapping_plugin: str = "default_auto_mapping"
    fetcher_plugin: str = "default_fetcher"
    transform_plugins: List[str] = Field(default_factory=lambda: ["default_transform"])
    validation_plugins: List[str] = Field(default_factory=lambda: ["default_validation"])
    loader_plugin: str = "default_loader"
    connectors: ConnectorsSpec = Field(default_factory=ConnectorsSpec)
    table_files: List[str] = Field(default_factory=list)
    #: [engine extension] Spark conf overrides for this job (e.g.
    #: spark.sql.shuffle.partitions sized to the data volume) — applied
    #: by the runner on top of the engine defaults
    spark_conf: dict = Field(default_factory=dict)
    #: [engine extension] driver-side table parallelism: >1 submits that
    #: many INDEPENDENT tables' jobs concurrently from threads (Spark's
    #: scheduler interleaves their stages across the executors). Tables
    #: are independent by the spec contract — self-lookups read only
    #: their own target; keep 1 if one table's target feeds another's
    #: lookup and ordering matters.
    table_parallelism: int = Field(default=1, ge=1)
    #: per-table failure policy: "fail" aborts the whole job on the
    #: first table error (the reference's behavior — an exception exits
    #: run_pipeline, cli.py:141-150); "continue" runs the remaining
    #: tables, reports failures per-table, and exits nonzero at the end
    #: — the long-nightly-job mode where one bad table must not cost
    #: the other 99 their load window.
    on_table_error: str = Field(default="fail", pattern="^(fail|continue)$")


class JobSpec(BaseModel):
    """Whole-run spec (reference ``Config``,
    ``/root/reference/mappings/parser.py:164-167``); YAML key ``global``."""

    model_config = ConfigDict(populate_by_name=True)

    global_spec: GlobalSpec = Field(alias="global")
    tables: List[TableSpec] = Field(default_factory=list)


def load_job_spec(path: Optional[str] = None) -> JobSpec:
    """Load main YAML + per-table YAMLs into a JobSpec.

    Mirrors the reference loader's two-level layout
    (``/root/reference/mappings/parser.py:170-203``): the main file's
    ``global.table_files`` lists per-table YAMLs under
    ``global.tables_folder`` (relative to the main file's directory).
    Inline ``tables:`` in the main file is also accepted (extension).
    """
    config_path = Path(path or os.environ.get("ETL_CONFIG_PATH", "config/config.yaml"))
    raw = yaml.safe_load(config_path.read_text(encoding="utf-8")) or {}
    global_spec = GlobalSpec.model_validate(raw.get("global", {}))

    tables: List[TableSpec] = [
        TableSpec.model_validate(t) for t in raw.get("tables", []) or []
    ]
    if global_spec.table_files:
        tables_dir = config_path.parent / global_spec.tables_folder
        if not tables_dir.is_dir():
            raise FileNotFoundError(f"tables folder not found: {tables_dir}")
        for file_name in global_spec.table_files:
            table_path = tables_dir / file_name
            if not table_path.is_file():
                raise FileNotFoundError(f"table spec not found: {table_path}")
            raw_tbl = yaml.safe_load(table_path.read_text(encoding="utf-8"))
            tables.append(TableSpec.model_validate(raw_tbl))

    return JobSpec(global_spec=global_spec, tables=tables)
