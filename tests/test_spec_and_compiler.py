"""Config IR round-trip + compiler semantics (SURVEY.md §1.5, §3.2)."""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import functions as F

from orion_etl_oracle_to_postgres_spark.compiler import (
    JobContext,
    compile_table,
    run_table,
)
from orion_etl_oracle_to_postgres_spark.spec import (
    ConnectorsSpec,
    FilesConnectorSpec,
    GlobalSpec,
    MappingSpec,
    TableSpec,
    load_job_spec,
)


def _ctx(spark, sf_dir, target_dir=None):
    conns = ConnectorsSpec(
        source_files=FilesConnectorSpec(base_path=sf_dir),
        target_files=FilesConnectorSpec(base_path=target_dir) if target_dir else None,
    )
    return JobContext(spark, GlobalSpec(connectors=conns))


def test_load_job_spec_reference_dialect(tmp_path):
    (tmp_path / "tables").mkdir()
    (tmp_path / "config.yaml").write_text(
        textwrap.dedent(
            """
            global:
              batch_size: 100
              tables_folder: tables
              table_files: [t1.yaml]
              connectors:
                source_files: {base_path: /root/testdata/sf0.001}
            """
        )
    )
    (tmp_path / "tables" / "t1.yaml").write_text(
        textwrap.dedent(
            """
            source_table: customer
            target_table: customer_out
            where: "c_acctbal > 0"
            mappings:
              - source: c_custkey
                target: id
              - source: c_name
                target: name
                transform: strip,upper
                validation:
                  - type: regex
                    pattern: "[A-Z#0-9]+"
                    on_fail: skip
            """
        )
    )
    job = load_job_spec(str(tmp_path / "config.yaml"))
    assert job.global_spec.batch_size == 100
    assert len(job.tables) == 1
    t = job.tables[0]
    assert t.mappings[1].transform == ["strip", "upper"]
    assert t.mappings[1].validation[0].on_fail == "skip"


def test_transform_string_normalized_to_list():
    m = MappingSpec(source="a", target="b", transform="strip, upper ,lower")
    assert m.transform == ["strip", "upper", "lower"]


def test_compile_minimal_projection(spark, sf_dir):
    spec = TableSpec(
        source_table="nation",
        target_table="n2",
        mappings=[
            MappingSpec(source="n_nationkey", target="id"),
            MappingSpec(source="n_name", target="name", transform="lower"),
        ],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert df.columns == ["id", "name"]
    assert df.count() == 25
    assert all(r["name"] == r["name"].lower() for r in df.collect())


def test_compile_auto_mapping_identity(spark, sf_dir):
    spec = TableSpec(source_table="region", target_table="r2")
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 5


def test_compile_schema_drift_drops_missing_column(spark, sf_dir):
    # mapped column absent from source → rule dropped pre-plan (S4)
    spec = TableSpec(
        source_table="region",
        target_table="r3",
        mappings=[
            MappingSpec(source="r_regionkey", target="id"),
            MappingSpec(source="no_such_col", target="ghost"),
        ],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert df.columns == ["id"]


def test_compile_all_columns_missing_raises(spark, sf_dir):
    spec = TableSpec(
        source_table="region",
        target_table="r4",
        mappings=[MappingSpec(source="gone", target="gone")],
    )
    with pytest.raises(RuntimeError, match="no mappable columns"):
        compile_table(_ctx(spark, sf_dir), spec)


def test_run_table_writes_parquet(spark, sf_dir, tmp_path):
    ctx = _ctx(spark, sf_dir, str(tmp_path))
    spec = TableSpec(
        source_table="region",
        target_table="region_out",
        mappings=[MappingSpec(source="r_regionkey", target="id")],
    )
    run_table(ctx, spec)
    back = spark.read.parquet(str(tmp_path / "region_out"))
    assert back.count() == 5 and back.columns == ["id"]


def test_where_predicate_pushed_to_scan(spark, sf_dir):
    from orion_etl_oracle_to_postgres_spark.plans import pushed_filters

    spec = TableSpec(
        source_table="orders",
        target_table="o2",
        where="o_totalprice > 1000",
        mappings=[MappingSpec(source="o_orderkey", target="id")],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert "o_totalprice" in pushed_filters(df)


def test_projection_pruned_to_read_schema(spark, sf_dir):
    from orion_etl_oracle_to_postgres_spark.plans import formatted_plan

    spec = TableSpec(
        source_table="lineitem",
        target_table="l2",
        mappings=[MappingSpec(source="l_orderkey", target="id")],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    plan = formatted_plan(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_incremental_table_spec_end_to_end(spark, tmp_path):
    """TableSpec.incremental drives a high-water-mark pipeline: run 1
    loads everything, run 2 appends only rows newer than the committed
    mark (the declared-but-missing reference ``incremental_fetcher``,
    SURVEY.md §2.9, wired through the compiler)."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        IncrementalSpec,
        TableSpec,
    )

    src_dir = tmp_path / "src"
    (src_dir).mkdir()
    spark.range(0, 6).selectExpr("id AS event_id", "id AS seq").write.parquet(
        str(src_dir / "events_inc")
    )
    g = GlobalSpec(
        connectors=ConnectorsSpec(
            source_files=FilesConnectorSpec(base_path=str(src_dir)),
            target_files=FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    spec = TableSpec(
        source_table="events_inc",
        target_table="events_tgt",
        write_mode="append",
        incremental=IncrementalSpec(
            watermark_column="seq", state_path=str(tmp_path / "hwm.json")
        ),
    )

    run_table(JobContext(spark, g), spec)
    out = spark.read.parquet(str(tmp_path / "out" / "events_tgt"))
    assert out.count() == 6

    # new rows land; a second run moves ONLY the delta
    spark.range(6, 9).selectExpr("id AS event_id", "id AS seq").write.mode(
        "append"
    ).parquet(str(src_dir / "events_inc"))
    run_table(JobContext(spark, g), spec)
    out2 = spark.read.parquet(str(tmp_path / "out" / "events_tgt"))
    assert out2.count() == 9
    assert sorted(r["seq"] for r in out2.collect()) == list(range(9))

    # third run with no new data: nothing added
    run_table(JobContext(spark, g), spec)
    assert spark.read.parquet(str(tmp_path / "out" / "events_tgt")).count() == 9


def test_missing_table_error_classification():
    """JDBC target-absence detection (ADVICE r2): only definite
    undefined-table errors mean 'first load'; auth/network failures must
    propagate, never silently flip auto-mapping to source-mirroring."""
    from orion_etl_oracle_to_postgres_spark.compiler import _is_missing_table_error

    assert _is_missing_table_error(RuntimeError("ERROR: relation \"public.t\" does not exist"))
    assert _is_missing_table_error(RuntimeError("SQLSTATE: 42P01"))
    assert _is_missing_table_error(RuntimeError("ORA-00942: table or view does not exist"))
    assert _is_missing_table_error(RuntimeError("[TABLE_OR_VIEW_NOT_FOUND] ..."))
    assert not _is_missing_table_error(RuntimeError("FATAL: role \"etl\" does not exist"))
    assert not _is_missing_table_error(RuntimeError("Connection refused"))
    assert not _is_missing_table_error(RuntimeError("password authentication failed"))


def test_incremental_default_state_is_per_target(spark, tmp_path, monkeypatch):
    """Two TableSpecs reading ONE source into different targets must not
    share a default high-water mark (ADVICE r2): after table A commits,
    table B still sees all rows."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        IncrementalSpec,
        TableSpec,
    )

    monkeypatch.chdir(tmp_path)  # default state lives under ./.hwm/
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(0, 4).selectExpr("id AS seq").write.parquet(str(src_dir / "shared"))
    g = GlobalSpec(
        connectors=ConnectorsSpec(
            source_files=FilesConnectorSpec(base_path=str(src_dir)),
            target_files=FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    for target in ("tgt_a", "tgt_b"):
        spec = TableSpec(
            source_table="shared",
            target_table=target,
            write_mode="append",
            incremental=IncrementalSpec(watermark_column="seq"),
        )
        run_table(JobContext(spark, g), spec)
    for target in ("tgt_a", "tgt_b"):
        assert spark.read.parquet(str(tmp_path / "out" / target)).count() == 4


def test_explain_only_runs_no_source_action(spark, tmp_path):
    """--explain promises plan review WITHOUT executing source reads
    (ADVICE r2): under explain_only the incremental snapshot-bound max
    probe must not run. Source here raises on ANY action, so a probe
    would fail the compile."""
    from orion_etl_oracle_to_postgres_spark.streaming.incremental import (
        HighWaterMark,
        incremental_read,
    )
    from pyspark.sql import functions as F

    poison = spark.range(1).select(
        F.expr("raise_error('source read executed in explain mode')")
        .cast("long")
        .alias("seq")
    )
    state = HighWaterMark(str(tmp_path / "hwm_explain.json"))

    # bound_snapshot=False: no action runs, and the mark cannot commit
    df, commit = incremental_read(lambda: poison, "seq", state, "k", bound_snapshot=False)
    assert "seq" in df.columns
    with pytest.raises(RuntimeError, match="explain-only"):
        commit()

    # the default (bounded) path DOES execute the probe — sanity check
    # that the poison source actually poisons
    with pytest.raises(Exception, match="explain mode"):
        incremental_read(lambda: poison, "seq", state, "k")


def test_nanos_conf_not_set_for_plain_parquet(spark, tmp_path):
    """read_file_table must not mutate the session's nanosAsLong conf
    when the dataset carries no TIMESTAMP(NANOS) columns (ADVICE r2);
    it still sets it for genuinely ns-timestamped data."""
    from orion_etl_oracle_to_postgres_spark.sources.files import read_file_table
    from orion_etl_oracle_to_postgres_spark.spec import FilesConnectorSpec

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.range(3).selectExpr("id AS x").write.parquet(str(tmp_path / "plain.parquet"))
    spark.conf.unset(key)
    read_file_table(spark, FilesConnectorSpec(base_path=str(tmp_path)), "plain").count()
    assert spark.conf.get(key, "false") == "false"

    # a genuinely ns-timestamped dataset: conf flips on
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_tbl = pa.table(
        {"ts": pa.array([1, 2, 3], type=pa.timestamp("ns")), "x": [1, 2, 3]}
    )
    pq.write_table(ns_tbl, str(tmp_path / "nsdata.parquet"))
    read_file_table(spark, FilesConnectorSpec(base_path=str(tmp_path)), "nsdata")
    assert spark.conf.get(key) == "true"
    spark.conf.unset(key)


def test_partitioned_sorted_file_sink(spark, tmp_path):
    """TableSpec.partition_by writes a hive-style layout that read-back
    filters prune to a single partition directory; sort_by clusters
    within files."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        TableSpec,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id % 4 AS STRING) AS part", "id % 7 AS v"
    ).write.parquet(str(src_dir / "facts"))
    g = GlobalSpec(
        connectors=ConnectorsSpec(
            source_files=FilesConnectorSpec(base_path=str(src_dir)),
            target_files=FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    run_table(
        JobContext(spark, g),
        TableSpec(
            source_table="facts",
            target_table="facts_tgt",
            partition_by=["part"],
            sort_by=["v"],
        ),
    )
    out_dir = tmp_path / "out" / "facts_tgt"
    subdirs = {p.name for p in out_dir.iterdir() if p.is_dir()}
    assert subdirs == {"part=0", "part=1", "part=2", "part=3"}
    # repartition-on-partition-cols: one data file per partition value
    for d in subdirs:
        files = [p for p in (out_dir / d).iterdir() if p.suffix == ".parquet"]
        assert len(files) == 1
    back = spark.read.parquet(str(out_dir))
    assert back.count() == 1000
    plan = (
        back.filter(F.col("part") == "2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(part" in plan
    assert back.filter(F.col("part") == "2").count() == 250


def test_partition_by_rejected_for_jdbc_target(spark):
    from orion_etl_oracle_to_postgres_spark.sinks import resolve_sink
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        PostgresConnectorSpec,
    )

    conns = ConnectorsSpec(
        postgres=PostgresConnectorSpec(
            host="localhost", database="x", user="u", password="p"
        )
    )
    with pytest.raises(ValueError, match="partition_by"):
        resolve_sink(
            spark.range(1), conns, "t", partition_by=["id"]
        )


def test_dedup_spec_fingerprint_in_pipeline(spark, tmp_path):
    """TableSpec.dedup (fingerprint): near-identical texts collapse to
    the min-id survivor inside the compiled pipeline, deterministically."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        DedupSpec,
        FilesConnectorSpec,
        GlobalSpec,
        TableSpec,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),   # same after normalization -> loses to id 1
        (3, "something else"),
    ]
    spark.createDataFrame(rows, "doc_id long, body string").write.parquet(
        str(src_dir / "docs")
    )
    g = GlobalSpec(
        connectors=ConnectorsSpec(
            source_files=FilesConnectorSpec(base_path=str(src_dir)),
            target_files=FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    run_table(
        JobContext(spark, g),
        TableSpec(
            source_table="docs",
            target_table="docs_clean",
            dedup=DedupSpec(method="fingerprint", text_column="body", id_column="doc_id"),
        ),
    )
    back = spark.read.parquet(str(tmp_path / "out" / "docs_clean"))
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 3]
    assert "__fp" not in back.columns and "__rn" not in back.columns


def test_dedup_spec_exact_subset_and_errors(spark, tmp_path):
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
        run_table,
    )
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        DedupSpec,
        FilesConnectorSpec,
        GlobalSpec,
        TableSpec,
    )
    import pytest as _pytest

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, k string, v double",
    ).write.parquet(str(src_dir / "t"))
    g = GlobalSpec(
        connectors=ConnectorsSpec(
            source_files=FilesConnectorSpec(base_path=str(src_dir)),
            target_files=FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    run_table(
        JobContext(spark, g),
        TableSpec(
            source_table="t",
            target_table="t_dedup",
            dedup=DedupSpec(method="exact", columns=["k"], id_column="id"),
        ),
    )
    back = spark.read.parquet(str(tmp_path / "out" / "t_dedup"))
    assert sorted((r["id"], r["k"]) for r in back.collect()) == [(1, "a"), (3, "b")]

    # key subset without id_column: refused, not silently nondeterministic
    with _pytest.raises(ValueError, match="deterministic survivor"):
        compile_table(
            JobContext(spark, g),
            TableSpec(
                source_table="t",
                target_table="x",
                dedup=DedupSpec(method="exact", columns=["k"]),
            ),
        )
    # unknown dedup column: loud config error
    with _pytest.raises(ValueError, match="not in pipeline output"):
        compile_table(
            JobContext(spark, g),
            TableSpec(
                source_table="t",
                target_table="x",
                dedup=DedupSpec(method="exact", columns=["nope"], id_column="id"),
            ),
        )


def test_dedup_spec_loads_from_yaml(tmp_path):
    import yaml as _yaml

    from orion_etl_oracle_to_postgres_spark.spec import TableSpec

    y = tmp_path / "tbl.yaml"
    y.write_text(
        """
source_table: docs
target_table: docs_clean
dedup:
  method: fingerprint
  text_column: body
  id_column: doc_id
"""
    )
    spec = TableSpec.model_validate(_yaml.safe_load(y.read_text()))
    assert spec.dedup is not None and spec.dedup.method == "fingerprint"
    assert spec.dedup.text_column == "body"
    # unknown method refused at parse time
    import pytest as _pytest

    with _pytest.raises(Exception, match="exact|fingerprint"):
        TableSpec.model_validate(
            {"source_table": "d", "target_table": "t", "dedup": {"method": "simhash"}}
        )


# --------------------------------------------------- append schema alignment


def _append_ctx(spark, tmp_path, src_rows, src_cols):
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
    )

    src = tmp_path / "src"
    spark.createDataFrame(src_rows, src_cols).write.mode("overwrite").parquet(
        str(src / "t.parquet")
    )
    conns = ConnectorsSpec(
        source_files=FilesConnectorSpec(base_path=str(src)),
        target_files=FilesConnectorSpec(base_path=str(tmp_path / "out")),
    )
    return JobContext(spark, GlobalSpec(connectors=conns))


def test_append_nullfills_target_only_columns(spark, tmp_path):
    from orion_etl_oracle_to_postgres_spark.compiler import run_table
    from orion_etl_oracle_to_postgres_spark.spec import MappingSpec, TableSpec

    # seed the target with (id, a, b)
    (tmp_path / "out").mkdir()
    spark.createDataFrame([(1, "x", 10)], ["id", "a", "b"]).write.parquet(
        str(tmp_path / "out" / "t2")
    )
    ctx = _append_ctx(spark, tmp_path, [(2, "y")], ["id", "a"])
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        write_mode="append",
        mappings=[MappingSpec(source="id", target="id"), MappingSpec(source="a", target="a")],
    )
    run_table(ctx, spec)
    got = {r["id"]: (r["a"], r["b"]) for r in spark.read.parquet(str(tmp_path / "out" / "t2")).collect()}
    assert got == {1: ("x", 10), 2: ("y", None)}  # b null-filled, one schema


def test_append_refuses_new_columns(spark, tmp_path):
    import pytest as _pt

    from orion_etl_oracle_to_postgres_spark.compiler import run_table
    from orion_etl_oracle_to_postgres_spark.spec import MappingSpec, TableSpec

    (tmp_path / "out").mkdir()
    spark.createDataFrame([(1,)], ["id"]).write.parquet(str(tmp_path / "out" / "t2"))
    ctx = _append_ctx(spark, tmp_path, [(2, "y")], ["id", "a"])
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        write_mode="append",
        mappings=[MappingSpec(source="id", target="id"), MappingSpec(source="a", target="a")],
    )
    with _pt.raises(RuntimeError, match="append would add columns"):
        run_table(ctx, spec)


def test_append_first_load_passes_through(spark, tmp_path):
    from orion_etl_oracle_to_postgres_spark.compiler import run_table
    from orion_etl_oracle_to_postgres_spark.spec import MappingSpec, TableSpec

    ctx = _append_ctx(spark, tmp_path, [(1, "x")], ["id", "a"])
    spec = TableSpec(
        source_table="t",
        target_table="fresh",
        write_mode="append",
        mappings=[MappingSpec(source="id", target="id"), MappingSpec(source="a", target="a")],
    )
    run_table(ctx, spec)
    assert spark.read.parquet(str(tmp_path / "out" / "fresh")).count() == 1


def test_spark_conf_overrides_from_yaml(spark, tmp_path):
    """GlobalSpec.spark_conf reaches the session (runtime SQL confs
    apply even to an existing session via getOrCreate)."""
    import textwrap

    from orion_etl_oracle_to_postgres_spark.runner import main

    src = tmp_path / "src"
    spark.createDataFrame([(1,)], ["id"]).write.parquet(str(src / "t.parquet"))
    (tmp_path / "tables").mkdir()
    (tmp_path / "config.yaml").write_text(
        textwrap.dedent(
            f"""
            global:
              tables_folder: tables
              table_files: [t.yaml]
              spark_conf:
                spark.sql.shuffle.partitions: 7
              connectors:
                source_files: {{base_path: {src}}}
                target_files: {{base_path: {tmp_path / 'out'}}}
            """
        )
    )
    (tmp_path / "tables" / "t.yaml").write_text(
        "source_table: t\ntarget_table: t2\nmappings:\n  - {source: id, target: id}\n"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(["--config", str(tmp_path / "config.yaml")]) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ------------------------------------------------ third review-batch fixes


def test_targetless_mapping_with_lookup_and_validation(spark, tmp_path):
    """A mapping without an explicit target outputs under its source
    name; lookups AND validations must address that resolved name."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        LookupSpec,
        MappingSpec,
        TableSpec,
        ValidationSpec,
    )

    src = tmp_path / "src"
    spark.createDataFrame([(1, 10), (2, 99)], ["id", "code"]).write.parquet(
        str(src / "t.parquet")
    )
    spark.createDataFrame([(10, "TEN")], ["k", "v"]).write.parquet(
        str(src / "dim.parquet")
    )
    ctx = JobContext(
        spark,
        GlobalSpec(connectors=ConnectorsSpec(source_files=FilesConnectorSpec(base_path=str(src)))),
    )
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[
            MappingSpec(source="id"),  # no target
            MappingSpec(
                source="code",  # no target: lookup + validation on 'code'
                lookup=LookupSpec(
                    table="dim", key_column="k", value_column="v", on_missing="null"
                ),
                validation=[ValidationSpec(type="regex", pattern="T", on_fail="skip")],
            ),
        ],
    )
    rows = {r["id"]: r["code"] for r in compile_table(ctx, spec).df.collect()}
    # row 1: lookup hit + regex pass. row 2: lookup miss -> NULL, and
    # NULLs always pass validation (reference semantics) -> row kept.
    # The point: both the lookup and the rule addressed 'code', not None.
    assert rows == {1: "TEN", 2: None}


def test_explain_mode_never_executes_lookup_error_probe(spark, tmp_path):
    """on_missing=error normally runs an eager anti-join count; in
    explain_only mode NOTHING may execute — even with misses present,
    compile must succeed (the plan is identical, the probe is skipped)."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        LookupSpec,
        MappingSpec,
        TableSpec,
        ValidationSpec,
    )

    src = tmp_path / "src"
    spark.createDataFrame([(1, 777)], ["id", "code"]).write.parquet(
        str(src / "t.parquet")
    )
    spark.createDataFrame([(10, "TEN")], ["k", "v"]).write.parquet(
        str(src / "dim.parquet")
    )
    conns = ConnectorsSpec(source_files=FilesConnectorSpec(base_path=str(src)))
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[
            MappingSpec(
                source="code",
                target="code",
                lookup=LookupSpec(table="dim", key_column="k", value_column="v"),
                validation=[
                    ValidationSpec(
                        type="lookup",
                        lookup=LookupSpec(table="dim", key_column="k"),
                        on_fail="error",
                    )
                ],
            ),
        ],
    )
    # normal mode: the probes fire and the job aborts
    import pytest as _pt

    with _pt.raises(RuntimeError):
        compile_table(JobContext(spark, GlobalSpec(connectors=conns)), spec)
    # explain mode: plan builds, nothing executes, no raise
    compiled = compile_table(
        JobContext(spark, GlobalSpec(connectors=conns), explain_only=True), spec
    )
    assert compiled.df is not None


def test_dedup_empty_columns_list_rejected(spark, tmp_path):
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        DedupSpec,
        FilesConnectorSpec,
        GlobalSpec,
        MappingSpec,
        TableSpec,
    )

    src = tmp_path / "src"
    spark.createDataFrame([(1,)], ["id"]).write.parquet(str(src / "t.parquet"))
    ctx = JobContext(
        spark,
        GlobalSpec(connectors=ConnectorsSpec(source_files=FilesConnectorSpec(base_path=str(src)))),
    )
    import pytest as _pt

    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[MappingSpec(source="id", target="id")],
        dedup=DedupSpec(method="exact", columns=[], id_column="id"),
    )
    with _pt.raises(ValueError, match="empty list"):
        compile_table(ctx, spec)


def test_fingerprint_dedup_null_text_passes_through(spark, tmp_path):
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        DedupSpec,
        FilesConnectorSpec,
        GlobalSpec,
        MappingSpec,
        TableSpec,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, None)],
        "id long, body string",
    ).write.parquet(str(src / "t.parquet"))
    ctx = JobContext(
        spark,
        GlobalSpec(connectors=ConnectorsSpec(source_files=FilesConnectorSpec(base_path=str(src)))),
    )
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[MappingSpec(source="id", target="id"), MappingSpec(source="body", target="body")],
        dedup=DedupSpec(method="fingerprint", text_column="body", id_column="id"),
    )
    ids = sorted(r["id"] for r in compile_table(ctx, spec).df.collect())
    # duplicates collapse to min id; ALL null-text rows survive
    assert ids == [1, 3, 4, 5]


def test_watermark_sql_literal_typing():
    """The DB-side max probe must emit TYPED literals (ADVICE r3):
    JSON-stored marks are strings, and a bare quoted string against a
    DATE/TIMESTAMP column rides on implicit NLS conversion; a quote in
    a string mark would break out of the literal."""
    from orion_etl_oracle_to_postgres_spark.compiler import _watermark_sql_literal as lit

    assert lit(42) == "42"
    assert lit("42") == "42"
    assert lit("-3.5") == "-3.5"
    assert lit("2024-05-01") == "TO_DATE('2024-05-01', 'YYYY-MM-DD')"
    assert (
        lit("2024-05-01 10:20:30")
        == "TO_TIMESTAMP('2024-05-01 10:20:30', 'YYYY-MM-DD HH24:MI:SS')"
    )
    # datetime str() round-trip with microseconds, and the T separator
    assert (
        lit("2024-05-01T10:20:30.123456")
        == "TO_TIMESTAMP('2024-05-01 10:20:30.123456', 'YYYY-MM-DD HH24:MI:SS.FF6')"
    )
    assert (
        lit("2024-05-01 10:20:30.5")
        == "TO_TIMESTAMP('2024-05-01 10:20:30.500000', 'YYYY-MM-DD HH24:MI:SS.FF6')"
    )
    # arbitrary strings: quotes doubled, never break the literal
    assert lit("o'brien") == "'o''brien'"


def test_incremental_probe_gated_to_default_jdbc_frame(spark, tmp_path, monkeypatch):
    """The DB-side max probe queries source_table directly, so it is
    only installed when the pipeline frame IS that table: a spec.where
    filter (or a custom fetcher) must fall back to df.agg(max), else
    the committed mark can advance past rows the frame never contained
    (ADVICE r3). Files-connector specs exercise the agg path; this
    asserts the probe wiring responds to spec.where by checking the
    mark only advances to the max the FILTERED frame saw."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table, run_table

    monkeypatch.chdir(tmp_path)
    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 999.0)], ["seq", "val"]
    ).write.parquet(str(src / "t.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="t",
        target_table="t_inc",
        where="val < 100",  # excludes seq=3
        incremental=spec_mod.IncrementalSpec(watermark_column="seq"),
        mappings=[
            spec_mod.MappingSpec(source="seq", target="seq"),
            spec_mod.MappingSpec(source="val", target="val"),
        ],
    )
    ctx = JobContext(spark=spark, global_spec=g)
    run_table(ctx, t)
    import json

    state = json.loads((tmp_path / ".hwm" / "t__t_inc.json").read_text())
    # mark reflects the filtered frame's max (2), NOT the table max (3)
    assert list(state.values()) == ["2"]


def test_scd2_spec_yaml_round_trip(tmp_path):
    """TableSpec.scd2 parses from YAML (the reference's whole point is
    config-driven tables — VERDICT r3 #4) and validates its invariants."""
    import pytest
    import yaml

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod

    raw = yaml.safe_load(
        """
        source_table: customer
        target_table: dim_customer
        mappings:
          - {source: c_custkey, target: c_custkey}
          - {source: c_mktsegment, target: segment}
        scd2:
          key: c_custkey
          compare_columns: [segment]
          effective_time: "2024-01-01"
        """
    )
    t = spec_mod.TableSpec.model_validate(raw)
    assert t.scd2.key == "c_custkey"
    assert t.scd2.compare_columns == ["segment"]
    assert t.scd2.valid_from == "valid_from"
    with pytest.raises(Exception, match="effective"):
        spec_mod.Scd2Spec(key="k", compare_columns=["a"])
    with pytest.raises(Exception, match="effective"):
        spec_mod.Scd2Spec(
            key="k", compare_columns=["a"],
            effective_time="2024-01-01", effective_column="ts",
        )
    with pytest.raises(Exception, match="compare_columns"):
        spec_mod.Scd2Spec(key="k", compare_columns=[], effective_time="t")


def test_scd2_declarative_bootstrap_then_merge(spark, tmp_path):
    """Two declarative runs: run 1 bootstraps the dimension, run 2
    applies an update batch — closed versions get valid_to, changed and
    new keys open fresh versions, unchanged keys are carried."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table

    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], ["id", "seg"]
    ).write.parquet(str(src / "cust.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )

    def spec(eff, where=None, seg_transform=None):
        return spec_mod.TableSpec(
            source_table="cust",
            target_table="dim_cust",
            where=where,
            mappings=[
                spec_mod.MappingSpec(source="id", target="id"),
                spec_mod.MappingSpec(
                    source="seg", target="seg", transform=seg_transform
                ),
            ],
            scd2=spec_mod.Scd2Spec(
                key="id", compare_columns=["seg"], effective_time=eff
            ),
        )

    ctx = JobContext(spark=spark, global_spec=g)
    run_table(ctx, spec("2024-01-01"))
    dim1 = spark.read.parquet(str(out / "dim_cust"))
    assert dim1.count() == 3
    assert dim1.filter("valid_to IS NULL").count() == 3

    # run 2: ids 1,2 update — id 1 changes (upper of 'a'? use insert),
    # id 2 unchanged; via a second source table
    spark.createDataFrame(
        [(1, "Z"), (2, "B"), (4, "D")], ["id", "seg"]
    ).write.parquet(str(src / "cust2.parquet"))
    t2 = spec_mod.TableSpec(
        source_table="cust2",
        target_table="dim_cust",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="seg", target="seg"),
        ],
        scd2=spec_mod.Scd2Spec(
            key="id", compare_columns=["seg"], effective_time="2024-06-01"
        ),
    )
    run_table(ctx, t2)
    dim2 = spark.read.parquet(str(out / "dim_cust"))
    rows = {
        (r["id"], r["seg"], str(r["valid_from"])[:10], r["valid_to"] and str(r["valid_to"])[:10])
        for r in dim2.collect()
    }
    assert rows == {
        (1, "A", "2024-01-01", "2024-06-01"),  # closed
        (1, "Z", "2024-06-01", None),          # new version
        (2, "B", "2024-01-01", None),          # unchanged, carried
        (3, "C", "2024-01-01", None),          # untouched
        (4, "D", "2024-06-01", None),          # brand new
    }
    # idempotent: applying the same batch again changes nothing
    run_table(ctx, t2)
    assert spark.read.parquet(str(out / "dim_cust")).count() == 5


def test_scd2_rejects_extra_columns_and_custom_loader(spark, tmp_path):
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table

    src = tmp_path / "src"
    spark.createDataFrame([(1, "A", 5)], ["id", "seg", "x"]).write.parquet(
        str(src / "cust.parquet")
    )
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    ctx = JobContext(spark=spark, global_spec=g)
    t = spec_mod.TableSpec(
        source_table="cust",
        target_table="dim_cust",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="seg", target="seg"),
            spec_mod.MappingSpec(source="x", target="x"),
        ],
        scd2=spec_mod.Scd2Spec(
            key="id", compare_columns=["seg"], effective_time="2024-01-01"
        ),
    )
    with pytest.raises(ValueError, match="outside scd2"):
        run_table(ctx, t)
    t2 = t.model_copy(update={"loader_plugin": "my_loader"})
    t2.mappings.pop()  # drop x
    with pytest.raises(ValueError, match="custom"):
        run_table(ctx, t2)


def test_run_job_with_scd2_table_reports_rows(spark, tmp_path, monkeypatch):
    """run_job reports an scd2 table's rows from the write's own
    Observation (bootstrap and merge night alike) — no second pass over
    the dimension, which on a bootstrap night would re-run the source."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import run_job

    out = tmp_path / "out"

    def job(night, rows):
        src = tmp_path / f"src{night}"
        spark.createDataFrame(rows, ["id", "seg"]).write.parquet(
            str(src / "cust.parquet")
        )
        return spec_mod.JobSpec(
            global_spec=spec_mod.GlobalSpec(
                connectors=spec_mod.ConnectorsSpec(
                    source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
                    target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
                )
            ),
            tables=[
                spec_mod.TableSpec(
                    source_table="cust",
                    target_table="dim_cust",
                    mappings=[
                        spec_mod.MappingSpec(source="id", target="id"),
                        spec_mod.MappingSpec(source="seg", target="seg"),
                    ],
                    scd2=spec_mod.Scd2Spec(
                        key="id", compare_columns=["seg"], effective_time=night
                    ),
                )
            ],
        )

    bootstrap = job("2024-01-01", [(1, "A"), (2, "B")])
    merge = job("2024-02-01", [(1, "A"), (2, "C"), (3, "D")])
    counted = []
    real_count = ClassicDataFrame.count

    def spy_count(self):
        counted.append(self)
        return real_count(self)

    monkeypatch.setattr(ClassicDataFrame, "count", spy_count)
    assert run_job(spark, bootstrap) == {"dim_cust": 2}
    # merge night: 1 unchanged, 2 closed + reopened, 3 new
    assert run_job(spark, merge) == {"dim_cust": 4}
    assert counted == []
    monkeypatch.undo()
    assert spark.read.parquet(str(out / "dim_cust")).count() == 4


def test_watermark_literal_follows_column_type():
    """A VARCHAR watermark column keeps numeric-looking marks QUOTED
    (lexicographic, matching the Spark-side filter); numeric columns
    get unquoted numerics; type/mark mismatches raise (review r4 #6)."""
    import pytest

    from orion_etl_oracle_to_postgres_spark.compiler import _watermark_sql_literal as lit

    assert lit("0100", "string") == "'0100'"
    assert lit("42", "bigint") == "42"
    assert lit("2024-05-01", "date") == "TO_DATE('2024-05-01', 'YYYY-MM-DD')"
    assert lit("2024-05-01 10:20:30", "timestamp").startswith("TO_TIMESTAMP(")
    assert lit("2024-05-01", "timestamp") == (
        "TO_TIMESTAMP('2024-05-01 00:00:00', 'YYYY-MM-DD HH24:MI:SS')"
    )
    with pytest.raises(ValueError, match="not numeric"):
        lit("N123", "bigint")
    with pytest.raises(ValueError, match="timestamp"):
        lit("garbage", "timestamp")


def test_lineage_columns_capture_scan_file_and_load_id(spark, tmp_path):
    """TableSpec.lineage adds _source_file (captured AT the scan — it
    would be '' after any shuffle) and a per-run _load_id."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table

    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.parquet(
        str(src / "t.parquet")
    )
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    ctx = JobContext(spark=spark, global_spec=g)
    t = spec_mod.TableSpec(
        source_table="t",
        target_table="t_lin",
        lineage=True,
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="v", target="v", transform="upper"),
        ],
    )
    run_table(ctx, t)
    got = spark.read.parquet(str(out / "t_lin"))
    assert set(got.columns) == {"id", "v", "_source_file", "_load_id"}
    rows = got.collect()
    assert all("t.parquet" in r["_source_file"] for r in rows)
    first_ids = {r["_load_id"] for r in rows}
    assert len(first_ids) == 1  # one id per run
    # second run gets a DIFFERENT load id (per-run uuid, not a constant)
    run_table(ctx, t)
    ids = {r["_load_id"] for r in spark.read.parquet(str(out / "t_lin")).collect()}
    assert len(ids) == 1 and ids != first_ids


def test_declarative_minhash_dedup(spark, tmp_path):
    """dedup method=minhash in YAML: near-duplicate cluster members drop
    (transitively), one survivor (min id) per cluster, distinct docs
    untouched."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base),
        (2, base + " tonight"),           # near-dup of 1
        (3, base.replace("dog", "dog!")), # near-dup of 1 (punct only)
        (4, "completely different words about spark engines and parquet files"),
    ]
    src = tmp_path / "src"
    spark.createDataFrame(rows, ["id", "text"]).write.parquet(str(src / "docs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src))
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="docs_dedup",
        dedup=spec_mod.DedupSpec(
            method="minhash", text_column="text", id_column="id",
            threshold=0.6, num_hashes=64, bands=32,
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="text", target="text"),
        ],
    )
    compiled = compile_table(JobContext(spark=spark, global_spec=g), t)
    ids = {r["id"] for r in compiled.df.collect()}
    assert 4 in ids and 1 in ids   # survivor = min id; distinct doc kept
    assert ids & {2, 3} == set()   # near-dups dropped

    import pytest

    with pytest.raises(ValueError, match="requires"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(update={"dedup": spec_mod.DedupSpec(method="minhash")}),
        )


@pytest.mark.parametrize("method", ["minhash", "soft"])
def test_declarative_minhash_dedup_passes_seed(spark, tmp_path, monkeypatch, method):
    """A declared dedup.seed reaches the inline MinHash pair mining of
    minhash and soft dedup (the index and semantic paths pass it too)."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.operators import dedup as dedup_mod

    seen = []
    real = dedup_mod.minhash_near_dups

    def spy(*args, **kw):
        seen.append(kw.get("seed"))
        return real(*args, **kw)

    monkeypatch.setattr(dedup_mod, "minhash_near_dups", spy)
    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta!")],
        ["id", "text"],
    ).write.parquet(str(src / "docs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src))
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="docs_dedup",
        dedup=spec_mod.DedupSpec(
            method=method, text_column="text", id_column="id", seed=7
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="text", target="text"),
        ],
    )
    compile_table(JobContext(spark=spark, global_spec=g), t)
    assert seen == [7]


def test_declarative_semantic_dedup(spark, tmp_path):
    """dedup method=semantic in YAML: embedding-cosine near-dup cluster
    members drop, min-id survivor kept, distinct vectors untouched;
    missing vector_column refused loudly."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table

    rows = [
        (1, [1.0, 0.0, 0.02, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-parallel to 1
        (3, [0.0, 0.0, 1.0, 0.0]),     # distinct direction
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        rows, "id int, emb array<double>"
    ).write.parquet(str(src / "vecs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src))
        )
    )
    t = spec_mod.TableSpec(
        source_table="vecs",
        target_table="vecs_dedup",
        dedup=spec_mod.DedupSpec(
            method="semantic", vector_column="emb", id_column="id",
            threshold=0.9, n_planes=4,
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="emb", target="emb"),
        ],
    )
    compiled = compile_table(JobContext(spark=spark, global_spec=g), t)
    ids = {r["id"] for r in compiled.df.collect()}
    assert ids == {1, 3}  # 2 deduped into 1's cluster, 3 a singleton

    import pytest

    with pytest.raises(ValueError, match="requires"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(update={"dedup": spec_mod.DedupSpec(method="semantic")}),
        )


def test_semantic_dedup_rejected_in_streaming_mode(spark, tmp_path):
    """mode=streaming + dedup method=semantic must be refused loudly
    (iterative clustering is batch-only), same as minhash."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        _assert_streaming_spec,
    )

    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path))
        )
    )
    t = spec_mod.TableSpec(
        source_table="vecs",
        target_table="out",
        dedup=spec_mod.DedupSpec(
            method="semantic", vector_column="emb", id_column="id"
        ),
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
    )
    with pytest.raises(ValueError, match="semantic"):
        _assert_streaming_spec(JobContext(spark=spark, global_spec=g), t, None)


def test_on_table_error_continue_loads_healthy_tables(spark, tmp_path):
    """on_table_error=continue: a failing table must not block the rest;
    run_job raises TableRunErrors at the END with per-table results."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobSpec,
        TableRunErrors,
        run_job,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").write.parquet(
        str(src / "good.parquet")
    )
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        ),
        on_table_error="continue",
    )
    good = spec_mod.TableSpec(
        source_table="good",
        target_table="good_out",
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
    )
    bad = spec_mod.TableSpec(
        source_table="missing_table",
        target_table="bad_out",
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
    )
    job = JobSpec(global_spec=g, tables=[bad, good])
    with pytest.raises(TableRunErrors) as ei:
        run_job(spark, job)
    assert set(ei.value.failures) == {"bad_out"}
    assert ei.value.results["good_out"] == 2   # healthy table loaded
    assert ei.value.results["bad_out"] == -1
    assert spark.read.parquet(str(out / "good_out")).count() == 2


def test_on_table_error_default_fail_fast(spark, tmp_path):
    """Default (reference parity): the first failing table aborts the
    job — later tables never run."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobSpec, run_job

    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(
        str(src / "good.parquet")
    )
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        ),
    )
    bad = spec_mod.TableSpec(
        source_table="missing_table",
        target_table="bad_out",
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
    )
    good = spec_mod.TableSpec(
        source_table="good",
        target_table="good_out",
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
    )
    job = JobSpec(global_spec=g, tables=[bad, good])
    with pytest.raises(Exception):
        run_job(spark, job)
    import os

    assert not os.path.exists(str(out / "good_out"))  # never reached


def test_sample_spec_exact_n_and_priority(spark, tmp_path):
    """SampleSpec methods exact_n and priority compile into the
    pipeline; bad combinations are refused at spec build time."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.operators.curation import (
        priority_sample,
        sample_n,
    )

    src = tmp_path / "src"
    rows = [(i, float((i % 10) + 1)) for i in range(100)]
    spark.createDataFrame(rows, "id int, w double").write.parquet(
        str(src / "t.parquet")
    )
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src))
        )
    )

    def build(sample):
        return spec_mod.TableSpec(
            source_table="t",
            target_table="t_out",
            sample=sample,
            mappings=[
                spec_mod.MappingSpec(source="id", target="id"),
                spec_mod.MappingSpec(source="w", target="w"),
            ],
        )

    base = spark.read.parquet(str(src / "t.parquet"))
    ctx = JobContext(spark=spark, global_spec=g)

    got_n = compile_table(
        ctx, build(spec_mod.SampleSpec(method="exact_n", id_column="id", n=7, seed="s1"))
    ).df
    want_n = sample_n(base.select("id", "w"), "id", 7, seed="s1")
    assert sorted(r["id"] for r in got_n.collect()) == sorted(
        r["id"] for r in want_n.collect()
    )

    got_p = compile_table(
        ctx,
        build(
            spec_mod.SampleSpec(
                method="priority", id_column="id", weight_column="w", n=9,
                seed="s2",
            )
        ),
    ).df
    want_p = priority_sample(base.select("id", "w"), "id", "w", 9, seed="s2")
    assert sorted(r["id"] for r in got_p.collect()) == sorted(
        r["id"] for r in want_p.collect()
    )

    with pytest.raises(ValueError, match="needs n"):
        spec_mod.SampleSpec(method="exact_n", id_column="id")
    with pytest.raises(ValueError, match="weight_column"):
        spec_mod.SampleSpec(method="priority", id_column="id", n=5)
    with pytest.raises(ValueError, match="group_column and rates"):
        spec_mod.SampleSpec(method="rates", id_column="id")


def test_sample_spec_rejects_negative_n():
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod

    with pytest.raises(ValueError, match="needs n > 0"):
        spec_mod.SampleSpec(method="exact_n", id_column="id", n=-5)


def test_on_corrupt_modes_for_json_source(spark, tmp_path):
    """FilesConnectorSpec.on_corrupt: failfast aborts on a bad row,
    dropmalformed skips it, permissive keeps row count with nulls."""
    import pytest

    from orion_etl_oracle_to_postgres_spark.sources.files import read_file_table
    from orion_etl_oracle_to_postgres_spark.spec import FilesConnectorSpec

    src = tmp_path / "src"
    src.mkdir()
    (src / "t.json").write_text(
        '{"id": 1, "v": "a"}\n'
        'THIS IS NOT JSON\n'
        '{"id": 2, "v": "b"}\n'
    )

    drop = FilesConnectorSpec(
        base_path=str(src), format="json", on_corrupt="dropmalformed"
    )
    assert read_file_table(spark, drop, "t").count() == 2

    # JSON's DROPMALFORMED needs a non-inferred schema to drop eagerly;
    # count() above works because inference already excluded the bad row.
    hard = FilesConnectorSpec(
        base_path=str(src), format="json", on_corrupt="failfast"
    )
    with pytest.raises(Exception):
        read_file_table(spark, hard, "t").collect()

    perm = FilesConnectorSpec(
        base_path=str(src), format="json", on_corrupt="permissive"
    )
    rows = read_file_table(spark, perm, "t").count()
    assert rows >= 2  # bad row surfaces (or is schema-dropped), never aborts

    with pytest.raises(ValueError, match="on_corrupt"):
        FilesConnectorSpec(base_path=str(src), on_corrupt="bogus")


def test_quality_filter_declarative(spark, tmp_path):
    """TableSpec.quality_filter gates rows by the heuristic quality
    score; rejects land in reject_table with their score."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table

    good = ("a good plain sentence with normal words repeated a few times "
            "over and over to pass the length gate easily for sure")
    bad = "!!! ### $$$ %%%"
    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [(1, good), (2, bad)], "id int, body string"
    ).write.parquet(str(src / "docs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="docs_clean",
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", min_quality=0.5, reject_table="docs_lowq"
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
    )
    run_table(JobContext(spark=spark, global_spec=g), t)
    kept = spark.read.parquet(str(out / "docs_clean"))
    assert [r["id"] for r in kept.collect()] == [1]
    rej = spark.read.parquet(str(out / "docs_lowq"))
    row = rej.collect()[0]
    assert row["id"] == 2 and 0.0 <= row["_quality"] < 0.5

    # unknown column refused loudly
    import pytest

    with pytest.raises(ValueError, match="quality_filter.text_column"):
        run_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(
                update={
                    "quality_filter": spec_mod.QualityFilterSpec(
                        text_column="nope"
                    ),
                    "target_table": "x",
                }
            ),
        )


def test_quality_filter_null_text_is_audited_not_lost(spark, tmp_path):
    """NULL text scores NULL — such rows must land in the reject audit,
    never vanish from both outputs."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table

    good = ("a good plain sentence with normal words repeated a few times "
            "over and over to pass the length gate easily for sure")
    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [(1, good), (2, None)], "id int, body string"
    ).write.parquet(str(src / "docs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="docs_clean",
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", reject_table="docs_lowq"
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
    )
    run_table(JobContext(spark=spark, global_spec=g), t)
    assert [r["id"] for r in spark.read.parquet(str(out / "docs_clean")).collect()] == [1]
    rej = spark.read.parquet(str(out / "docs_lowq")).collect()
    assert [r["id"] for r in rej] == [2]
    assert rej[0]["_quality"] is None


def test_quality_filter_reject_table_refused_on_streams(spark, tmp_path):
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        _assert_streaming_spec,
    )

    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path))
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="o",
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", reject_table="lowq"
        ),
        mappings=[spec_mod.MappingSpec(source="body", target="body")],
    )
    with pytest.raises(ValueError, match="reject_table"):
        _assert_streaming_spec(JobContext(spark=spark, global_spec=g), t, None)


def test_declarative_versioned_lookup(spark, tmp_path):
    """`lookup.ts_column` in YAML compiles to the PIT join: each fact
    row resolves the dim version valid at its own timestamp."""
    import datetime as dt

    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        LookupSpec,
        MappingSpec,
        TableSpec,
    )

    src = tmp_path / "vlk"
    spark.createDataFrame(
        [
            ("k1", "old", dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)),
            ("k1", "new", dt.datetime(2024, 6, 1), None),
        ],
        "code string, name string, valid_from timestamp, valid_to timestamp",
    ).write.parquet(str(src / "dim.parquet"))
    spark.createDataFrame(
        [(1, "k1", dt.datetime(2024, 2, 1)), (2, "k1", dt.datetime(2024, 8, 1))],
        "id int, code string, ts timestamp",
    ).write.parquet(str(src / "fact.parquet"))
    ctx = JobContext(
        spark,
        GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=str(src))
            )
        ),
    )
    spec = TableSpec(
        source_table="fact",
        target_table="fact_named",
        mappings=[
            MappingSpec(source="id", target="id"),
            MappingSpec(source="ts", target="ts"),
            MappingSpec(
                source="code",
                target="code",
                lookup=LookupSpec(
                    table="dim", key_column="code", value_column="name",
                    on_missing="null", ts_column="ts",
                ),
            ),
        ],
    )
    out = {r["id"]: r["code"] for r in compile_table(ctx, spec).df.collect()}
    assert out == {1: "old", 2: "new"}


def test_quality_filter_top_fraction_with_rejects(spark, tmp_path):
    """top_fraction keep policy: per-group quota, NULL text rejected,
    rejects carry _quality, kept+rejected partition the input."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        MappingSpec,
        QualityFilterSpec,
        TableSpec,
    )
    import pytest as _pt
    from pydantic import ValidationError

    src = tmp_path / "qtf"
    rows = [
        (i, "a", "The quick brown fox jumps over the lazy dog near a river bank. " * (1 + i % 3))
        for i in range(10)
    ] + [(20, "b", None), (21, "b", "zz"), (22, "b", "A fine sentence with words here today.")]
    spark.createDataFrame(rows, "id long, grp string, body string").write.parquet(
        str(src / "t.parquet")
    )
    ctx = JobContext(
        spark,
        GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=str(src))
            )
        ),
    )
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[
            MappingSpec(source="id", target="id"),
            MappingSpec(source="grp", target="grp"),
            MappingSpec(source="body", target="body"),
        ],
        quality_filter=QualityFilterSpec(
            text_column="body",
            top_fraction=0.5,
            id_column="id",
            group_column="grp",
            reject_table="t_rejects",
        ),
    )
    compiled = compile_table(ctx, spec)
    kept = compiled.df.collect()
    rejects = compiled.quality_rejects.collect()
    # quotas: ceil(10*0.5)=5 of grp a, ceil(3*0.5)=2 of grp b
    from collections import Counter

    c = Counter(r["grp"] for r in kept)
    assert c == {"a": 5, "b": 2}
    assert len(kept) + len(rejects) == 13
    # NULL-text row is a reject, never kept
    assert 20 in {r["id"] for r in rejects}
    assert "_quality" in compiled.quality_rejects.columns
    assert "_quality" not in compiled.df.columns
    with _pt.raises(ValidationError, match="top_fraction"):
        QualityFilterSpec(text_column="body", top_fraction=0.5)


def test_declarative_kfold_split(spark, tmp_path):
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        MappingSpec,
        SplitSpec,
        TableSpec,
    )
    import pytest as _pt
    from pydantic import ValidationError

    src = tmp_path / "kf"
    spark.createDataFrame([(i,) for i in range(100)], "id long").write.parquet(
        str(src / "t.parquet")
    )
    ctx = JobContext(
        spark,
        GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=str(src))
            )
        ),
    )
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[MappingSpec(source="id", target="id")],
        split=SplitSpec(id_column="id", folds=4, column_name="cv_fold"),
    )
    out = compile_table(ctx, spec).df
    assert "cv_fold" in out.columns
    folds = {r["cv_fold"] for r in out.collect()}
    assert folds == {0, 1, 2, 3}
    with _pt.raises(ValidationError, match="mutually exclusive"):
        SplitSpec(id_column="id", folds=3, weights={"train": 1.0})


def test_declarative_rewrite_scrub_and_validation(spark, tmp_path):
    """rewrite method=scrub replaces URLs/emails in place; spec-level
    validation catches missing id_column for repeated_spans and
    stride > span_tokens."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        MappingSpec,
        RewriteSpec,
        TableSpec,
    )
    import pytest as _pt
    from pydantic import ValidationError

    src = tmp_path / "rw"
    spark.createDataFrame(
        [(1, "see http://x.io or mail a@b.co now")], "id long, body string"
    ).write.parquet(str(src / "t.parquet"))
    ctx = JobContext(
        spark,
        GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=str(src))
            )
        ),
    )
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[
            MappingSpec(source="id", target="id"),
            MappingSpec(source="body", target="body"),
        ],
        rewrite=RewriteSpec(text_column="body", method="scrub"),
    )
    out = compile_table(ctx, spec).df.collect()[0]["body"]
    assert "<URL>" in out and "<EMAIL>" in out and "http" not in out
    with _pt.raises(ValidationError, match="id_column"):
        RewriteSpec(text_column="body", method="repeated_spans")
    with _pt.raises(ValidationError, match="stride"):
        RewriteSpec(text_column="body", method="repeated_spans",
                    id_column="id", span_tokens=3, stride=5)


def test_rewrite_spans_preserves_zero_token_rows(spark, tmp_path):
    """Declarative span rewrite must not DELETE rows whose text has no
    tokens (NULL / punctuation-only) — they keep their original text."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        MappingSpec,
        RewriteSpec,
        TableSpec,
    )

    src = tmp_path / "rwz"
    spark.createDataFrame(
        [(1, "shared span text here"), (2, "shared span text here"),
         (3, None), (4, "!!!")],
        "id long, body string",
    ).write.parquet(str(src / "t.parquet"))
    ctx = JobContext(
        spark,
        GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=str(src))
            )
        ),
    )
    spec = TableSpec(
        source_table="t",
        target_table="t2",
        mappings=[
            MappingSpec(source="id", target="id"),
            MappingSpec(source="body", target="body"),
        ],
        rewrite=RewriteSpec(
            text_column="body", method="repeated_spans",
            id_column="id", span_tokens=2, min_docs=2,
        ),
    )
    rows = {r["id"]: r["body"] for r in compile_table(ctx, spec).df.collect()}
    assert set(rows) == {1, 2, 3, 4}  # nobody vanished
    assert rows[3] is None and rows[4] == "!!!"  # originals kept


def test_curriculum_spec_validation():
    import pytest as _pt

    from orion_etl_oracle_to_postgres_spark.spec import CurriculumSpec

    with _pt.raises(ValueError, match="exactly one"):
        CurriculumSpec(id_column="id")
    with _pt.raises(ValueError, match="exactly one"):
        CurriculumSpec(id_column="id", score_column="s", text_column="t")
    ok = CurriculumSpec(id_column="id", score_column="s", phases=2)
    assert ok.easy_first is True


def test_curriculum_stage_score_column_and_clash(spark, sf_dir):
    import pytest as _pt

    from orion_etl_oracle_to_postgres_spark.compiler import compile_table
    from orion_etl_oracle_to_postgres_spark.queries import _ctx
    from orion_etl_oracle_to_postgres_spark.spec import (
        CurriculumSpec,
        MappingSpec,
        TableSpec,
    )

    spec = TableSpec(
        source_table="documents",
        target_table="t",
        mappings=[
            MappingSpec(source="doc_id", target="doc_id"),
            MappingSpec(source="n_chars", target="n_chars"),
        ],
        curriculum=CurriculumSpec(
            id_column="doc_id", score_column="n_chars", phases=2,
            easy_first=False,
        ),
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    rows = df.orderBy("curriculum_idx").collect()
    assert [r.curriculum_idx for r in rows[:3]] == [0, 1, 2]
    # easy_first=False ranks ascending: index 0 = smallest n_chars
    assert rows[0].n_chars == min(r.n_chars for r in rows)
    assert {r.phase for r in rows} == {1, 2}
    bad = spec.model_copy(
        update={
            "curriculum": CurriculumSpec(
                id_column="doc_id", score_column="missing", phases=2
            )
        }
    )
    with _pt.raises(ValueError, match="score_column"):
        compile_table(_ctx(spark, sf_dir), bad)


def test_quality_filter_gopher_gate(spark, tmp_path):
    """method: gopher keeps rows passing all 7 rules; rejects carry the
    _failed_rules audit column naming what fired."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_table

    good = ("the data and that have with a filter "
            "scan merge join scan merge join scan merge join")
    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [
            (1, good),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, None),
        ],
        "id int, body string",
    ).write.parquet(str(src / "docs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="docs_clean",
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", method="gopher", reject_table="docs_badrule"
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
    )
    run_table(JobContext(spark=spark, global_spec=g), t)
    kept = spark.read.parquet(str(out / "docs_clean"))
    assert [r["id"] for r in kept.collect()] == [1]
    assert "_failed_rules" not in kept.columns
    rej = {r["id"]: r for r in spark.read.parquet(str(out / "docs_badrule")).collect()}
    assert rej[2]["_failed_rules"] == "stopwords"
    assert "word_count" in rej[3]["_failed_rules"]  # NULL text audited, not lost

    # no score to rank: top_fraction + gopher refused at spec level
    with pytest.raises(ValueError, match="gopher"):
        spec_mod.QualityFilterSpec(
            text_column="body",
            method="gopher",
            top_fraction=0.5,
            id_column="id",
            group_column="id",
        )


def test_decontaminate_declarative(spark, tmp_path):
    """decontaminate: drops rows sharing n-grams with the benchmark
    table; rejects carry match-count audit columns; streams refused."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
        run_table,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [
            (1, "totally unrelated words in this training row"),
            (2, "contains the secret benchmark sentence here verbatim padded"),
        ],
        "id int, body string",
    ).write.parquet(str(src / "train.parquet"))
    spark.createDataFrame(
        [(9, "xx the secret benchmark sentence here yy")],
        "bid int, btext string",
    ).write.parquet(str(src / "bench.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="train",
        target_table="train_clean",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        decontaminate=spec_mod.DecontaminateSpec(
            benchmark_table="bench",
            text_column="body",
            id_column="id",
            benchmark_text_column="btext",
            benchmark_id_column="bid",
            ngram=4,
            reject_table="train_contaminated",
        ),
    )
    ctx0 = JobContext(spark=spark, global_spec=g)
    plan = compile_table(ctx0, t).df._jdf.queryExecution().executedPlan().toString()
    # flagged ids broadcast: the pipeline frame must not shuffle into a
    # sort-merge anti join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    run_table(JobContext(spark=spark, global_spec=g), t)
    kept = spark.read.parquet(str(out / "train_clean"))
    assert [r["id"] for r in kept.collect()] == [1]
    rej = spark.read.parquet(str(out / "train_contaminated")).collect()
    assert len(rej) == 1 and rej[0]["id"] == 2
    assert rej[0]["_matched_benchmark_docs"] == 1
    assert rej[0]["_shared_ngrams"] >= 1

    # a method typo must die at SPEC-PARSE time, not deep inside
    # compile_table after the benchmark probe has run (ADVICE r8)
    with pytest.raises(ValueError, match="ngram|minhash|semantic"):
        spec_mod.DecontaminateSpec(
            method="mihash",
            benchmark_table="bench",
            id_column="id",
            text_column="text",
        )

    # unknown pipeline column refused loudly
    with pytest.raises(ValueError, match="decontaminate column"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(
                update={
                    "decontaminate": t.decontaminate.model_copy(
                        update={"id_column": "nope"}
                    ),
                    "target_table": "x",
                }
            ),
        )

    # batch-only: streaming mode refuses the stage loudly
    with pytest.raises(ValueError, match="decontaminate"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(
                update={
                    "write_mode": "append",
                    "incremental": spec_mod.IncrementalSpec(
                        watermark_column="id", mode="streaming"
                    ),
                    "target_table": "y",
                }
            ),
        )


def test_decontaminate_minhash_method(spark, tmp_path):
    """decontaminate method=minhash: NEAR-dup benchmark matches drop
    (a reworded copy the verbatim n-gram rule would keep); rejects
    carry the _max_jaccard audit column; unknown methods refused;
    explain-only compiles run zero jobs."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
        run_table,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    bench_text = (
        "what is the capital of france paris is the capital of france"
    )
    near_copy = (
        "what is the capital of france paris is the capital of francex"
    )
    spark.createDataFrame(
        [
            (1, "totally unrelated words in this training row example"),
            (2, near_copy),
        ],
        "id int, body string",
    ).write.parquet(str(src / "train.parquet"))
    spark.createDataFrame(
        [(9, bench_text)], "bid int, btext string"
    ).write.parquet(str(src / "bench.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="train",
        target_table="train_nd_clean",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        decontaminate=spec_mod.DecontaminateSpec(
            method="minhash",
            benchmark_table="bench",
            text_column="body",
            id_column="id",
            benchmark_text_column="btext",
            benchmark_id_column="bid",
            threshold=0.6,
            num_hashes=128,
            bands=32,
            reject_table="train_nd_contaminated",
        ),
    )
    run_table(JobContext(spark=spark, global_spec=g), t)
    kept = spark.read.parquet(str(out / "train_nd_clean"))
    assert [r["id"] for r in kept.collect()] == [1]
    rej = spark.read.parquet(str(out / "train_nd_contaminated")).collect()
    assert len(rej) == 1 and rej[0]["id"] == 2
    assert rej[0]["_matched_benchmark_docs"] == 1
    assert 0.6 <= rej[0]["_max_jaccard"] <= 1.0

    # unknown method refused loudly
    with pytest.raises(ValueError, match="ngram, minhash, or semantic"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(
                update={
                    "decontaminate": t.decontaminate.model_copy(
                        update={"method": "simhash"}
                    ),
                    "target_table": "x",
                }
            ),
        )

    # explain-only compiles must not EXECUTE any stage of the plan —
    # the minhash path's shingle checkpoints are deferred (eager=False)
    # and the flagged-set pin is skipped (even a lazy localCheckpoint
    # finalizes AQE shuffle stages). Parquet footer/schema `load` jobs
    # from spark.read are inherent to building any plan and allowed.
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    ctx = JobContext(spark=spark, global_spec=g, explain_only=True)
    compile_table(ctx, t.model_copy(update={"target_table": "z"}))
    # and again with an EXCHANGE upstream of the decontaminate stage
    # (exact dedup window): a lazy localCheckpoint would finalize the
    # AQE stages and execute the shuffle at plan-build time
    compile_table(
        ctx,
        t.model_copy(
            update={
                "target_table": "z2",
                "dedup": spec_mod.DedupSpec(
                    method="exact", columns=["body"], id_column="id"
                ),
            }
        ),
    )
    after = set(tracker.getJobIdsForGroup(None) or [])
    jsc = spark.sparkContext._jsc.sc().statusTracker()
    for job_id in sorted(after - before):
        info = jsc.getJobInfo(job_id)
        if not info.isDefined():
            continue
        for sid in list(info.get().stageIds()):
            si = jsc.getStageInfo(sid)
            assert not si.isDefined() or si.get().name().startswith("load at"), (
                f"explain-only compile executed stage: {si.get().name()}"
            )


def test_augment_declarative_and_streaming(spark, tmp_path):
    """augment: attaches span-corruption pair columns in-row — all rows
    survive (zero-token docs get NULL pairs), no shuffle, streams."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
        run_job,
        run_table,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    (src / "land").mkdir(parents=True)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta echo foxtrot golf"), (2, "   !!! ")],
        "id long, body string",
    ).coalesce(1).write.mode("append").parquet(str(src / "land"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="land",
        target_table="t_aug",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        augment=spec_mod.AugmentSpec(
            text_column="body", id_column="id",
            span_tokens=3, mask_permille=1000,
        ),
    )
    ctx = JobContext(spark=spark, global_spec=g)
    compiled = compile_table(ctx, t)
    plan = compiled.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # in-row: scan + project only
    run_table(ctx, t)
    rows = {r["id"]: r for r in spark.read.parquet(str(out / "t_aug")).collect()}
    assert rows[1]["input_text"] == "<extra_id_0> <extra_id_1> <extra_id_2>"
    assert rows[1]["target_text"].startswith("<extra_id_0> alpha beta gamma")
    assert rows[2]["input_text"] is None  # zero-token row kept, NULL pair

    # output-column collision refused loudly
    with pytest.raises(ValueError, match="augment output column"):
        compile_table(
            ctx,
            t.model_copy(
                update={
                    "augment": t.augment.model_copy(
                        update={"input_column": "body"}
                    ),
                    "target_table": "x",
                }
            ),
        )

    # streams: same rows per micro-batch
    t_s = t.model_copy(
        update={
            "target_table": "t_aug_s",
            "write_mode": "append",
            "incremental": spec_mod.IncrementalSpec(
                watermark_column="id", mode="streaming",
                state_path=str(tmp_path / "state"),
            ),
        }
    )
    assert run_job(
        spark, spec_mod.JobSpec(global_spec=g, tables=[t_s])
    ) == {"t_aug_s": 2}
    srows = {r["id"]: r for r in spark.read.parquet(str(out / "t_aug_s")).collect()}
    assert srows[1]["input_text"] == rows[1]["input_text"]
    assert srows[2]["input_text"] is None


def test_curriculum_refused_on_streams(spark, tmp_path):
    """curriculum needs a corpus-wide min/max + global rank — the gate
    must refuse it loudly (per-micro-batch indices would silently not
    be global)."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        _assert_streaming_spec,
    )

    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path))
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="o",
        curriculum=spec_mod.CurriculumSpec(id_column="id", text_column="body"),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
    )
    with pytest.raises(ValueError, match="curriculum"):
        _assert_streaming_spec(JobContext(spark=spark, global_spec=g), t, None)


def test_sample_cap_method_compiles_and_validates(spark, tmp_path):
    """`sample.method: cap` caps each group at `cap` rows via the
    WindowGroupLimit plan; spec validation requires group_column+cap."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, "a" if i < 30 else "b") for i in range(40)],
        "id long, grp string",
    ).coalesce(1).write.parquet(str(src / "rows"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    t = spec_mod.TableSpec(
        source_table="rows",
        target_table="capped",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="grp", target="grp"),
        ],
        sample=spec_mod.SampleSpec(
            method="cap", id_column="id", group_column="grp", cap=5
        ),
    )
    out = compile_table(JobContext(spark=spark, global_spec=g), t).df
    from collections import Counter

    sizes = Counter(r.grp for r in out.collect())
    assert sizes == {"a": 5, "b": 5}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    with pytest.raises(ValueError, match="method=cap needs"):
        spec_mod.SampleSpec(method="cap", id_column="id", group_column="grp")
    with pytest.raises(ValueError, match="method=cap needs"):
        spec_mod.SampleSpec(method="cap", id_column="id", group_column="grp", cap=0)


def test_non_projection_sample_methods_refused_on_streams(spark, tmp_path):
    """exact_n/priority/token_budget/temperature/cap sampled per
    micro-batch would be a silently different semantic — the gate must
    refuse them; rates/epochs (pure projections) pass."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        _assert_streaming_spec,
    )

    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path))
        )
    )

    def tab(sample):
        return spec_mod.TableSpec(
            source_table="rows",
            target_table="o",
            write_mode="append",
            mappings=[spec_mod.MappingSpec(source="id", target="id")],
            sample=sample,
        )

    ctx = JobContext(spark=spark, global_spec=g)
    for s in (
        spec_mod.SampleSpec(method="cap", id_column="id", group_column="g", cap=5),
        spec_mod.SampleSpec(method="exact_n", id_column="id", n=5),
        spec_mod.SampleSpec(
            method="temperature", id_column="id", group_column="g", budget_rows=5
        ),
    ):
        with pytest.raises(ValueError, match="sample method"):
            _assert_streaming_spec(ctx, tab(s), None)
    # pure projections stream fine
    _assert_streaming_spec(
        ctx,
        tab(
            spec_mod.SampleSpec(
                method="rates", id_column="id", group_column="g", rates={"a": 0.5}
            )
        ),
        None,
    )


def test_dedup_soft_method_annotates_instead_of_dropping(spark, tmp_path):
    """`dedup.method: soft` ships every row with
    cluster_id/n_dups/sample_weight; near-dups share one row of mass."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        _assert_streaming_spec,
        compile_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "totally unrelated text about market dynamics and prices"),
        ],
        "id long, body string",
    ).coalesce(1).write.parquet(str(src / "docs"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(tmp_path / "out")),
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="soft",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        dedup=spec_mod.DedupSpec(
            method="soft", text_column="body", id_column="id",
            num_hashes=128, bands=32, threshold=0.6,
        ),
    )
    out = {r.id: r for r in compile_table(JobContext(spark=spark, global_spec=g), t).df.collect()}
    assert len(out) == 3, "soft dedup must never drop rows"
    assert out[1].cluster_id == 1 and out[2].cluster_id == 1
    assert out[1].n_dups == 2 and out[1].sample_weight == 0.5
    assert out[3].n_dups == 1 and out[3].sample_weight == 1.0
    # batch-only on streams, like minhash
    t2 = t.model_copy(update={"write_mode": "append"})
    with pytest.raises(ValueError, match="batch-only"):
        _assert_streaming_spec(JobContext(spark=spark, global_spec=g), t2, None)


def test_dedup_pairs_table_reuses_persisted_pairs(spark, tmp_path):
    """`dedup.pairs_table` (VERDICT r7 ask #5): a persisted
    (id_i, id_j) pair table replaces in-pipeline MinHash mining — the
    soft/minhash consumers produce identical results to inline mining,
    and the compiled plan reads the pair parquet instead of
    re-shingling the corpus (no second banded join per consumer)."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        minhash_near_dups,
    )

    src = tmp_path / "src"
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "totally unrelated text about market dynamics and prices"),
        ],
        "id long, body string",
    )
    docs.coalesce(1).write.parquet(str(src / "docs"))
    # mine ONCE, persist — the shared layout several jobs consume
    minhash_near_dups(
        docs, "id", "body", num_hashes=128, bands=32, threshold=0.6
    ).coalesce(1).write.parquet(str(src / "dup_pairs"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    t = spec_mod.TableSpec(
        source_table="docs",
        target_table="soft",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        dedup=spec_mod.DedupSpec(
            method="soft", text_column="body", id_column="id",
            pairs_table="dup_pairs",
        ),
    )
    ctx = JobContext(spark=spark, global_spec=g)
    compiled = compile_table(ctx, t).df
    # the reused pair set gives the exact inline-mining result
    out = {r.id: r for r in compiled.collect()}
    assert len(out) == 3
    assert out[1].cluster_id == 1 and out[2].cluster_id == 1
    assert out[1].sample_weight == 0.5 and out[3].sample_weight == 1.0
    # and the plan scans the persisted pairs, never re-shingles: the
    # banded join's signature stages (minhash position explode) are
    # absent while the pairs parquet IS in the scan set
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "dup_pairs" in plan
    assert "posexplode" not in plan
    # hard-dedup consumer shares the same layout
    t_hard = t.model_copy(
        update={
            "target_table": "hard",
            "dedup": spec_mod.DedupSpec(
                method="minhash", text_column="body", id_column="id",
                pairs_table="dup_pairs",
            ),
        }
    )
    ids = {r.id for r in compile_table(ctx, t_hard).df.collect()}
    assert ids == {1, 3}
    # a FILTERED consumer must not lose content to ghost edges: doc 1
    # (the cluster's min-id survivor in the full pair table) is filtered
    # out of this pipeline, so doc 2 becomes a singleton and must
    # survive — and the soft twin must weight it 1.0, not 1/2
    t_filtered = t_hard.model_copy(
        update={"target_table": "hard_f", "where": "id <> 1"}
    )
    assert {r.id for r in compile_table(ctx, t_filtered).df.collect()} == {
        2, 3,
    }
    t_soft_f = t.model_copy(
        update={"target_table": "soft_f", "where": "id <> 1"}
    )
    soft_f = {r.id: r for r in compile_table(ctx, t_soft_f).df.collect()}
    assert soft_f[2].n_dups == 1 and soft_f[2].sample_weight == 1.0
    # pairs_table consumers that carry no text at all still compile:
    # only the id is needed on the reuse path
    t_no_text = spec_mod.TableSpec(
        source_table="docs",
        target_table="ids_only",
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
        dedup=spec_mod.DedupSpec(
            method="minhash", id_column="id", pairs_table="dup_pairs",
        ),
    )
    assert {r.id for r in compile_table(ctx, t_no_text).df.collect()} == {
        1, 3,
    }
    # loud failures: wrong layout, wrong method
    spark.createDataFrame([(1, 2)], "a long, b long").write.parquet(
        str(src / "bad_pairs")
    )
    with pytest.raises(ValueError, match="missing columns"):
        compile_table(
            ctx,
            t.model_copy(
                update={
                    "dedup": spec_mod.DedupSpec(
                        method="soft", text_column="body", id_column="id",
                        pairs_table="bad_pairs",
                    )
                }
            ),
        )
    with pytest.raises(ValueError, match="pairs_table only applies"):
        compile_table(
            ctx,
            t.model_copy(
                update={
                    "dedup": spec_mod.DedupSpec(
                        method="exact", columns=["id"], id_column="id",
                        pairs_table="dup_pairs",
                    )
                }
            ),
        )


def test_dedup_index_table_probes_persisted_index(spark, tmp_path):
    """`dedup.index_table` (VERDICT r9 ask #6): an incremental delta
    probes a PERSISTED minhash index instead of re-mining the archive —
    delta rows near-duplicating an INDEXED doc drop, fresh rows
    survive, and the compiled plan reads the two index parquet tables
    while the archive text is NEVER touched (its table is absent from
    the plan's scan set)."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        minhash_index_build,
    )

    src = tmp_path / "src"
    archive = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different archival text about tax policy"),
        ],
        "id long, body string",
    )
    archive.coalesce(1).write.parquet(str(src / "archive"))
    banded, flat = minhash_index_build(
        archive, "id", "body", num_hashes=128, bands=32
    )
    banded.coalesce(1).write.parquet(str(src / "ix_bands"))
    flat.coalesce(1).write.parquet(str(src / "ix_shingles"))
    # delta: 11 near-dups the indexed doc 1; 12 is fresh
    delta = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog tonight"),
            (12, "entirely new material on deep sea exploration methods"),
        ],
        "id long, body string",
    )
    delta.coalesce(1).write.parquet(str(src / "delta"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    t = spec_mod.TableSpec(
        source_table="delta",
        target_table="delta_clean",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        dedup=spec_mod.DedupSpec(
            method="minhash", text_column="body", id_column="id",
            threshold=0.6, num_hashes=128, bands=32,
            index_table="ix",
        ),
    )
    ctx = JobContext(spark=spark, global_spec=g)
    compiled = compile_table(ctx, t).df
    assert {r.id for r in compiled.collect()} == {12}
    # the archive is represented ONLY by its ids+hashes index: the two
    # index tables are in the scan set, the archive parquet is not
    # (inputFiles() carries full paths; the plan string elides them)
    scanned = compiled.inputFiles()
    assert any("/ix_bands/" in f for f in scanned)
    assert any("/ix_shingles/" in f for f in scanned)
    assert not any("/archive/" in f for f in scanned)
    # loud failure: an index missing the band layout
    spark.createDataFrame([(1, 2)], "a long, b long").write.parquet(
        str(src / "bad_bands")
    )
    spark.createDataFrame([(1, 2)], "a long, b long").write.parquet(
        str(src / "bad_shingles")
    )
    with pytest.raises(ValueError, match="missing columns"):
        compile_table(
            ctx,
            t.model_copy(
                update={
                    "dedup": spec_mod.DedupSpec(
                        method="minhash", text_column="body",
                        id_column="id", index_table="bad",
                    )
                }
            ),
        )


def test_dedup_index_and_centroids_table_spec_contracts():
    """The mounted-table fields fail at PARSE time when combined with
    the wrong method: centroids_table is semdedup-only, index_table is
    minhash-only and mutually exclusive with pairs_table."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod

    with pytest.raises(ValueError, match="centroids_table only applies"):
        spec_mod.DedupSpec(
            method="minhash", text_column="t", id_column="i",
            centroids_table="cb",
        )
    with pytest.raises(ValueError, match="index_table only applies"):
        spec_mod.DedupSpec(
            method="soft", text_column="t", id_column="i",
            index_table="ix",
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        spec_mod.DedupSpec(
            method="minhash", text_column="t", id_column="i",
            index_table="ix", pairs_table="p",
        )


def test_dedup_centroids_table_mounts_trained_codebook(spark, tmp_path):
    """`dedup.centroids_table` (VERDICT r9 ask #5): a persisted
    (cluster_id, centroid) codebook replaces the deterministic
    ``id < n_centroids`` cells — ids far from 0 (which would leave the
    default path with NO usable centroids) cluster on the mounted
    codebook, and the declarative result matches the standalone
    ``semdedup_cells(centroids=...)`` call exactly."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )
    from orion_etl_oracle_to_postgres_spark.operators.similarity import (
        semdedup_cells,
    )

    src = tmp_path / "src"
    # ids start at 1000: the deterministic id < n_centroids default
    # would find no centroids at all — exactly the real-corpus case
    # the trained-codebook path exists for
    vecs = spark.createDataFrame(
        [
            (1000, [1.0, 0.0, 0.0]),
            (1001, [0.999, 0.04, 0.0]),   # near-dup of 1000
            (1002, [0.0, 1.0, 0.0]),
            (1003, [0.0, 0.0, 1.0]),
        ],
        "vid long, emb array<double>",
    )
    vecs.coalesce(1).write.parquet(str(src / "vecs"))
    codebook = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cluster_id long, centroid array<double>",
    )
    codebook.coalesce(1).write.parquet(str(src / "codebook"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    t = spec_mod.TableSpec(
        source_table="vecs",
        target_table="vecs_dedup",
        mappings=[
            spec_mod.MappingSpec(source="vid", target="vid"),
            spec_mod.MappingSpec(source="emb", target="emb"),
        ],
        dedup=spec_mod.DedupSpec(
            method="semdedup", vector_column="emb", id_column="vid",
            threshold=0.95, centroids_table="codebook",
        ),
    )
    ctx = JobContext(spark=spark, global_spec=g)
    got = {r.vid for r in compile_table(ctx, t).df.collect()}
    labeled = semdedup_cells(
        vecs, vec_col="emb", id_col="vid", threshold=0.95,
        centroids=codebook,
    )
    want = {r.vid for r in labeled.filter("keep").collect()}
    assert got == want
    # the survivor is the LEAST-prototypical member: 1001 (cosine to
    # the cell centroid below 1000's perfect 1.0) stays, 1000 drops
    assert 1001 in got and 1000 not in got and got == {1001, 1002, 1003}
    # without the codebook the same spec fails loudly instead of
    # silently dropping the whole corpus (no id < 16 centroids exist)
    with pytest.raises(ValueError, match="no usable centroids"):
        compile_table(
            ctx,
            t.model_copy(
                update={
                    "dedup": spec_mod.DedupSpec(
                        method="semdedup", vector_column="emb",
                        id_column="vid", threshold=0.95,
                    )
                }
            ),
        ).df.collect()


def test_decontaminate_pairs_table_reuses_persisted_pairs(spark, tmp_path):
    """`decontaminate.pairs_table` (VERDICT r8 ask #6 — the
    decontaminate twin of dedup's pair reuse): a persisted UNDIRECTED
    (id_i, id_j, jaccard) layout replaces the cross-corpus banded join;
    sidedness is re-derived from ids-only semi-joins, the result equals
    inline mining, text is never read, thresholds re-filter on mount,
    and the wrong-layout / wrong-method / unstable-bench-id cases die
    loudly."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        minhash_near_dups,
    )

    src = tmp_path / "src"
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different training text about gardens"),
            (3, "a third unrelated training document on sailing"),
            (10, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "id long, body string",
    )
    docs.coalesce(1).write.parquet(str(src / "docs"))
    # ONE corpus-wide mining pass, persisted with jaccard — mined at a
    # LOWER threshold than the consumer gate to prove the re-filter
    minhash_near_dups(
        docs, "id", "body", num_hashes=128, bands=32, threshold=0.5
    ).coalesce(1).write.parquet(str(src / "dup_pairs"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    ctx = JobContext(spark=spark, global_spec=g)

    def tab(**decon_kw):
        return spec_mod.TableSpec(
            source_table="docs",
            target_table="train_clean",
            where="id < 10",
            mappings=[spec_mod.MappingSpec(source="id", target="id")]
            + (
                [spec_mod.MappingSpec(source="body", target="body")]
                if decon_kw.get("text_column")
                else []
            ),
            decontaminate=spec_mod.DecontaminateSpec(
                method="minhash",
                benchmark_table="docs",
                benchmark_where="id >= 10",
                id_column="id",
                benchmark_id_column="id",
                num_hashes=128,
                bands=32,
                threshold=0.6,
                **decon_kw,
            ),
        )

    # inline mining and pair reuse agree exactly: doc 1 is the bench
    # near-dup and drops; text is NOT mapped on the reuse path
    inline_ids = {
        r.id for r in compile_table(ctx, tab(text_column="body")).df.collect()
    }
    reused = compile_table(ctx, tab(pairs_table="dup_pairs")).df
    assert {r.id for r in reused.collect()} == inline_ids == {2, 3}
    # the reuse plan scans the persisted pairs and never re-shingles —
    # read through an explain-only compile, where the flagged set's
    # lazy checkpoint (which prints as an opaque ExistingRDD) is
    # skipped and the file scans stay visible
    ctx_x = JobContext(spark=spark, global_spec=g, explain_only=True)
    plan = (
        compile_table(ctx_x, tab(pairs_table="dup_pairs"))
        .df._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the threshold re-filter is PUSHED into the pairs parquet scan
    # (only the pairs table has a jaccard column, so this pins both
    # "the persisted layout is scanned" and "the filter reached it";
    # the path itself can fall past Spark's Location string truncation)
    assert "GreaterThanOrEqual(jaccard,0.6)" in plan
    assert "posexplode" not in plan
    # threshold re-filter on mount: a gate stricter than the pair
    # within-corpus jaccard keeps doc 1 (pairs mined at 0.5; 1↔10
    # jaccard ≈ 0.8 < 0.95)
    strict = compile_table(
        ctx,
        tab(pairs_table="dup_pairs").model_copy(
            update={
                "target_table": "strict",
                "decontaminate": tab(
                    pairs_table="dup_pairs"
                ).decontaminate.model_copy(update={"threshold": 0.95}),
            }
        ),
    ).df
    assert {r.id for r in strict.collect()} == {1, 2, 3}
    # a text_column left over from an inline-mining spec is IGNORED on
    # the mount path (text is never read there) — even when neither the
    # pipeline nor the benchmark carries that column
    leftover = spec_mod.TableSpec(
        source_table="docs",
        target_table="leftover",
        where="id < 10",
        mappings=[spec_mod.MappingSpec(source="id", target="id")],
        decontaminate=spec_mod.DecontaminateSpec(
            method="minhash",
            benchmark_table="docs",
            benchmark_where="id >= 10",
            id_column="id",
            benchmark_id_column="id",
            text_column="body",  # not mapped into the pipeline
            threshold=0.6,
            pairs_table="dup_pairs",
        ),
    )
    assert {r.id for r in compile_table(ctx, leftover).df.collect()} == {2, 3}

    # the reject audit survives the reuse path: flagged rows carry the
    # match count and max jaccard mined from the persisted table
    rej_spec = tab(pairs_table="dup_pairs").model_copy(
        update={
            "target_table": "audited",
            "decontaminate": tab(
                pairs_table="dup_pairs"
            ).decontaminate.model_copy(update={"reject_table": "rejects"}),
        }
    )
    compiled_rej = compile_table(ctx, rej_spec)
    rejects = {r.id: r for r in compiled_rej.decontam_rejects.collect()}
    assert set(rejects) == {1}
    assert rejects[1]._matched_benchmark_docs == 1
    assert rejects[1]._max_jaccard >= 0.6
    # loud failures: spec-level method/benchmark-id contract...
    with pytest.raises(ValueError, match="only applies to method"):
        spec_mod.DecontaminateSpec(
            method="ngram",
            benchmark_table="docs",
            id_column="id",
            benchmark_id_column="id",
            pairs_table="dup_pairs",
        )
    with pytest.raises(ValueError, match="benchmark_id_column"):
        spec_mod.DecontaminateSpec(
            method="minhash",
            benchmark_table="docs",
            id_column="id",
            pairs_table="dup_pairs",
        )
    # ...and compile-level layout validation (jaccard is REQUIRED here)
    spark.createDataFrame([(1, 10)], "id_i long, id_j long").write.parquet(
        str(src / "bad_pairs")
    )
    with pytest.raises(ValueError, match="missing columns"):
        compile_table(
            ctx,
            tab(pairs_table="bad_pairs").model_copy(
                update={"target_table": "bad"}
            ),
        )


def test_vector_transform_feeds_semantic_dedup(spark, tmp_path):
    """vector_transform runs BEFORE declarative dedup (the documented
    stage order): with an anisotropic corpus — dim0 variance 100²,
    dim1 variance 1 — raw cosine sees near-parallel vectors along the
    dominant axis and over-merges, while the whitened space makes the
    same vectors orthogonal. One job spec composing whiten + semantic
    dedup must keep ALL rows; the same dedup without the transform
    must merge the raw-space near-dups (VERDICT r8 ask #6)."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (0, [100.0, 1.0]),
            (1, [100.0, -1.0]),  # raw cosine vs id 0 ≈ 0.9998
            (2, [-100.0, 1.0]),
            (3, [-100.0, -1.0]),
        ],
        "id long, emb array<double>",
    ).write.parquet(str(src / "vecs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    ctx = JobContext(spark=spark, global_spec=g)

    def tab(with_whiten, target):
        return spec_mod.TableSpec(
            source_table="vecs",
            target_table=target,
            mappings=[
                spec_mod.MappingSpec(source="id", target="id"),
                spec_mod.MappingSpec(source="emb", target="emb"),
            ],
            vector_transform=(
                spec_mod.VectorTransformSpec(
                    method="whiten", vector_column="emb"
                )
                if with_whiten
                else None
            ),
            dedup=spec_mod.DedupSpec(
                method="semantic",
                vector_column="emb",
                id_column="id",
                threshold=0.9,
                n_planes=2,
                seed=42,
            ),
        )

    # whitened space: [±1, ±1] corners — pairwise cosine 0 or -1, no
    # merges, every row survives
    white = {r.id for r in compile_table(ctx, tab(True, "w")).df.collect()}
    assert white == {0, 1, 2, 3}
    # raw space: 0↔1 and 2↔3 are near-parallel along the dominant axis
    # (cos ≈ 0.9998 ≥ 0.9) — the min-id survivors remain
    raw = {r.id for r in compile_table(ctx, tab(False, "r")).df.collect()}
    assert raw == {0, 2}


def test_augment_fim_declarative(spark, tmp_path):
    """augment: {method: fim} attaches PSM pairs in-row: applied rows
    reassemble to the original text from the sentinel pieces, plain
    rows keep the whole text with a NULL target; zero shuffles."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )

    src = tmp_path / "src"
    (src / "land").mkdir(parents=True)
    spark.createDataFrame(
        [(i, f"row {i} text for fill in the middle") for i in range(40)],
        "id long, body string",
    ).coalesce(1).write.mode("append").parquet(str(src / "land"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="land",
        target_table="t_fim",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        augment=spec_mod.AugmentSpec(
            text_column="body", id_column="id",
            method="fim", rate_permille=500,
        ),
    )
    ctx = JobContext(spark=spark, global_spec=g)
    compiled = compile_table(ctx, t)
    plan = compiled.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # in-row: scan + project only
    rows = compiled.df.collect()
    assert len(rows) == 40  # augment never drops rows
    applied = [r for r in rows if r["target_text"] is not None]
    plain = [r for r in rows if r["target_text"] is None]
    assert applied and plain  # rate 500 permille hits both classes
    for r in applied:
        it = r["input_text"]
        assert it.startswith("<PRE>") and it.endswith("<MID>")
        pre, rest = it[len("<PRE>"):].split("<SUF>", 1)
        suf = rest[: -len("<MID>")]
        assert pre + r["target_text"] + suf == r["body"]
    for r in plain:
        assert r["input_text"] == r["body"]
    # unknown method refused at spec load
    with pytest.raises(Exception, match="span_corruption or fim"):
        spec_mod.AugmentSpec(text_column="body", id_column="id", method="psm")


def test_quality_filter_ccnet_gate(spark, tmp_path):
    """method: ccnet keeps each group's lowest-perplexity fraction;
    zero-token rows are audited rejects (NULL score); spec validation
    requires top_fraction."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )

    src = tmp_path / "src"
    (src / "land").mkdir(parents=True)
    rows = []
    for i in range(10):
        # doc 0..9 lang a: i DISTINCT singleton tokens each — more
        # singletons = lower mean logprob = higher perplexity
        singles = " ".join(f"r{i}x{j}" for j in range(i))
        rows.append((i, "a", "common words common words " + singles))
    rows.append((99, "a", "   "))  # zero tokens -> NULL score -> reject
    spark.createDataFrame(rows, "id long, lg string, body string") \
        .coalesce(1).write.mode("append").parquet(str(src / "land"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="land",
        target_table="t_ccnet",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="lg", target="lg"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", method="ccnet",
            top_fraction=0.5, id_column="id", group_column="lg",
        ),
    )
    ctx = JobContext(spark=spark, global_spec=g)
    kept = {r["id"] for r in compile_table(ctx, t).df.collect()}
    assert 99 not in kept  # NULL score rejected
    # quota: ceil(11 * 0.5) = 6 of the 11 group rows, lowest ppl first
    assert len(kept) == 6
    # the all-common-words docs (low ppl) survive over the rare-heavy ones
    assert 1 in kept and 9 not in kept
    with pytest.raises(Exception, match="needs top_fraction"):
        spec_mod.QualityFilterSpec(
            text_column="body", method="ccnet",
            id_column="id", group_column="lg",
        )


def test_decontaminate_semantic_method(spark, tmp_path):
    """decontaminate method=semantic: vectors within threshold cosine
    of a benchmark vector drop with a _max_cosine audit; vector_column
    required; text_column unused."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
        run_table,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # parallel to bench -> contaminated
            (2, [0.0, 1.0, 0.0]),   # orthogonal -> kept
        ],
        "id int, emb array<double>",
    ).write.parquet(str(src / "train.parquet"))
    spark.createDataFrame(
        [(9, [2.0, 0.0, 0.0])], "bid int, bemb array<double>"
    ).write.parquet(str(src / "bench.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(base_path=str(out)),
        )
    )
    t = spec_mod.TableSpec(
        source_table="train",
        target_table="train_sem_clean",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="emb", target="emb"),
        ],
        decontaminate=spec_mod.DecontaminateSpec(
            method="semantic",
            benchmark_table="bench",
            id_column="id",
            benchmark_id_column="bid",
            vector_column="emb",
            benchmark_vector_column="bemb",
            threshold=0.9,
            reject_table="train_sem_contaminated",
        ),
    )
    run_table(JobContext(spark=spark, global_spec=g), t)
    kept = spark.read.parquet(str(out / "train_sem_clean"))
    assert [r["id"] for r in kept.collect()] == [2]
    rej = spark.read.parquet(str(out / "train_sem_contaminated")).collect()
    assert len(rej) == 1 and rej[0]["id"] == 1
    assert rej[0]["_matched_benchmark_docs"] == 1
    assert rej[0]["_max_cosine"] == 1.0

    # vector_column required for the semantic method
    with pytest.raises(ValueError, match="requires vector_column"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(
                update={
                    "decontaminate": t.decontaminate.model_copy(
                        update={"vector_column": None}
                    ),
                    "target_table": "x",
                }
            ),
        )
    # text methods still demand text_column now that it is optional
    with pytest.raises(ValueError, match="requires text_column"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(
                update={
                    "decontaminate": t.decontaminate.model_copy(
                        update={"method": "ngram"}
                    ),
                    "target_table": "y",
                }
            ),
        )


def test_vector_transform_declarative(spark, tmp_path):
    """vector_transform: l2_normalize streams and unit-scales; whiten
    standardizes in place; abtt removes the dominant direction;
    output_column keeps raw vectors; unknown method/column refused;
    whiten/abtt refuse streams and are skipped (loudly) under
    --explain."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        _assert_streaming_spec,
        compile_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (0, [10.0, 1.0, 0.0]),
            (1, [-10.0, -1.0, 0.0]),
            (2, [10.0, -1.0, 0.0]),
            (3, [-10.0, 1.0, 0.0]),
        ],
        "id long, emb array<double>",
    ).write.parquet(str(src / "vecs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    ctx = JobContext(spark=spark, global_spec=g)

    def tab(method, out_col=None):
        return spec_mod.TableSpec(
            source_table="vecs",
            target_table=f"v_{method}",
            mappings=[
                spec_mod.MappingSpec(source="id", target="id"),
                spec_mod.MappingSpec(source="emb", target="emb"),
            ],
            vector_transform=spec_mod.VectorTransformSpec(
                method=method, vector_column="emb", output_column=out_col
            ),
        )

    # l2_normalize: unit norms, new column keeps the raw vectors
    out = {
        r["id"]: r
        for r in compile_table(ctx, tab("l2_normalize", "unit")).df.collect()
    }
    assert out[0]["emb"][0] == 10.0  # raw kept
    n = sum(x * x for x in out[0]["unit"]) ** 0.5
    assert abs(n - 1.0) < 1e-12

    # whiten: in-place standardization, zero-variance dim -> 0
    w = {r["id"]: r["emb"] for r in compile_table(ctx, tab("whiten")).df.collect()}
    assert all(v[2] == 0.0 for v in w.values())  # constant dim
    assert abs(w[0][0] - 1.0) < 1e-6  # (10 - 0)/10 = 1

    # abtt: the dominant axis collapses
    a = {r["id"]: r["emb"] for r in compile_table(ctx, tab("abtt")).df.collect()}
    assert all(abs(v[0]) < 0.05 for v in a.values())

    # guards: unknown method at SPEC level, missing column at compile
    with pytest.raises(ValueError, match="l2_normalize"):
        spec_mod.VectorTransformSpec(method="pca", vector_column="emb")
    with pytest.raises(ValueError, match="vector_transform column"):
        compile_table(
            ctx,
            tab("whiten").model_copy(
                update={
                    "vector_transform": spec_mod.VectorTransformSpec(
                        method="whiten", vector_column="nope"
                    )
                }
            ),
        )

    # whiten/abtt are batch-only; l2_normalize streams
    t_stream = tab("whiten").model_copy(update={"write_mode": "append"})
    with pytest.raises(ValueError, match="batch-only"):
        _assert_streaming_spec(ctx, t_stream, None)
    _assert_streaming_spec(
        ctx, tab("l2_normalize").model_copy(update={"write_mode": "append"}),
        None,
    )

    # --explain: the eager-stats methods are SKIPPED (vector untouched),
    # never executed
    ctx_x = JobContext(spark=spark, global_spec=g, explain_only=True)
    plan_df = compile_table(ctx_x, tab("abtt")).df
    row = {r["id"]: r["emb"] for r in plan_df.collect()}
    assert row[0] == [10.0, 1.0, 0.0]  # raw passthrough under explain
    # ...but a declared output_column must still EXIST in the reviewed
    # plan (identity placeholder) so later stages referencing it — e.g.
    # dedup.method: semantic on the transformed column — pass plan
    # review of a valid spec (ADVICE r8)
    plan_named = compile_table(ctx_x, tab("whiten", "white")).df
    assert "white" in plan_named.columns
    named_row = {r["id"]: r["white"] for r in plan_named.collect()}
    assert named_row[0] == [10.0, 1.0, 0.0]  # schema-preserving identity


def test_declarative_semdedup(spark, tmp_path):
    """dedup method=semdedup in YAML: cell-bounded near-dup groups keep
    the LEAST-prototypical member (not the min id — the SemDeDup
    survivor rule), rows without a usable vector pass through; bad
    knobs refused at parse time."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext, compile_table

    rows = [
        (0, [1.0, 0.0]),    # centroid of cell 0 (n_centroids=1 -> all here)
        (2, [4.0, 1.0]),    # cos to c0 = 0.9701; pairs with 0 and 3
        (3, [3.0, 1.5]),    # cos to c0 = 0.8944: LEAST prototypical
        (9, None),          # no vector: must pass through untouched
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        rows, "id int, emb array<double>"
    ).write.parquet(str(src / "vecs.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src))
        )
    )
    t = spec_mod.TableSpec(
        source_table="vecs",
        target_table="vecs_dedup",
        dedup=spec_mod.DedupSpec(
            method="semdedup", vector_column="emb", id_column="id",
            threshold=0.97, n_centroids=1,
        ),
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="emb", target="emb"),
        ],
    )
    compiled = compile_table(JobContext(spark=spark, global_spec=g), t)
    ids = {r["id"] for r in compiled.df.collect()}
    # group {0,2,3} (0~2 and 2~3 edges): survivor = 3, NOT min id 0;
    # the vectorless row 9 survives by contract
    assert ids == {3, 9}

    with pytest.raises(ValueError, match="requires"):
        compile_table(
            JobContext(spark=spark, global_spec=g),
            t.model_copy(update={"dedup": spec_mod.DedupSpec(method="semdedup")}),
        )
    with pytest.raises(ValueError, match="n_centroids"):
        spec_mod.DedupSpec(method="semdedup", n_centroids=0)
    # streaming refusal, same contract as minhash/semantic/soft
    from orion_etl_oracle_to_postgres_spark.compiler import _assert_streaming_spec

    with pytest.raises(ValueError, match="semdedup"):
        _assert_streaming_spec(JobContext(spark=spark, global_spec=g), t, None)


def test_declarative_decontaminate_bloom_prescreen(spark, tmp_path):
    """decontaminate bench_join=bloom: identical kept/rejected rows to
    the broadcast default (the prescreen is a pure exchange optimizer),
    and --explain compiles without running the Bloom build's collect."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (1, "totally unrelated words in this training row"),
            (2, "contains the secret benchmark sentence here verbatim padded"),
        ],
        "id int, body string",
    ).write.parquet(str(src / "train.parquet"))
    spark.createDataFrame(
        [(9, "xx the secret benchmark sentence here yy")],
        "bid int, btext string",
    ).write.parquet(str(src / "bench.parquet"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
        )
    )

    def table(join):
        return spec_mod.TableSpec(
            source_table="train",
            target_table="train_clean",
            mappings=[
                spec_mod.MappingSpec(source="id", target="id"),
                spec_mod.MappingSpec(source="body", target="body"),
            ],
            decontaminate=spec_mod.DecontaminateSpec(
                benchmark_table="bench",
                text_column="body",
                id_column="id",
                benchmark_text_column="btext",
                benchmark_id_column="bid",
                ngram=4,
                bench_join=join,
                bloom_m_bits=1 << 12,
            ),
        )

    ids = lambda t, **kw: sorted(  # noqa: E731
        r["id"]
        for r in compile_table(
            JobContext(spark=spark, global_spec=g, **kw), t
        ).df.collect()
    )
    assert ids(table("bloom")) == ids(table("broadcast")) == [1]
    # explain-only must not execute the Bloom word-array collect: the
    # compile itself succeeding without a job is pinned by the global
    # explain stage-scan test; here pin that the fallback COMPILES
    compile_table(
        JobContext(spark=spark, global_spec=g, explain_only=True),
        table("bloom"),
    )


def test_quality_filter_nb_gate(spark, tmp_path):
    """`quality_filter.method: nb`: a mounted trained NB model keeps
    only confidently-in-keep_labels rows; token-less rows land with the
    rejects; parse-time contracts hold; streaming refuses the method."""
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )
    from orion_etl_oracle_to_postgres_spark.operators.text import nb_train

    src = tmp_path / "src"
    seed = spark.createDataFrame(
        [
            (1, "apple banana fruit sweet", "food"),
            (2, "banana apple tasty fruit", "food"),
            (3, "gear engine piston motor", "cars"),
            (4, "engine motor throttle gear", "cars"),
        ],
        "id long, body string, cls string",
    )
    model, priors = nb_train(seed, "body", "cls")
    model.write.parquet(str(src / "nb_model"))
    priors.write.parquet(str(src / "nb_priors"))
    corpus = spark.createDataFrame(
        [
            (10, "sweet banana fruit"),     # confident food -> kept
            (11, "piston engine gear"),     # cars -> reject
            (12, "   "),                    # token-less -> reject
        ],
        "id long, body string",
    )
    corpus.write.parquet(str(src / "corpus"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    t = spec_mod.TableSpec(
        source_table="corpus",
        target_table="corpus_food",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", method="nb", id_column="id",
            nb_model_table="nb_model", nb_priors_table="nb_priors",
            keep_labels=["food"], min_margin=0.1,
            reject_table="corpus_rejects",
        ),
    )
    compiled = compile_table(JobContext(spark, g), t)
    assert {r.id for r in compiled.df.collect()} == {10}
    assert {r.id for r in compiled.quality_rejects.collect()} == {11, 12}
    # parse-time contracts
    with pytest.raises(ValueError, match="method: nb needs"):
        spec_mod.QualityFilterSpec(
            text_column="body", method="nb", id_column="id",
            nb_model_table="nb_model",
        )
    with pytest.raises(ValueError, match="require method: nb"):
        spec_mod.QualityFilterSpec(
            text_column="body", method="heuristic", keep_labels=["x"],
        )
    with pytest.raises(ValueError, match="top_fraction does not apply"):
        spec_mod.QualityFilterSpec(
            text_column="body", method="nb", id_column="id",
            group_column="g", top_fraction=0.5,
            nb_model_table="m", nb_priors_table="p", keep_labels=["x"],
        )
    # typo'd keep_labels fail loudly instead of keeping zero rows
    with pytest.raises(ValueError, match="not in the mounted model"):
        compile_table(
            JobContext(spark, g),
            t.model_copy(
                update={
                    "quality_filter": t.quality_filter.model_copy(
                        update={"keep_labels": ["FOOD"],
                                "reject_table": None}
                    )
                }
            ),
        )
    # nb-only min_margin refused on other methods
    with pytest.raises(ValueError, match="min_margin requires"):
        spec_mod.QualityFilterSpec(
            text_column="body", method="heuristic", min_margin=0.9,
        )
    # a typo'd text_column gets the friendly contextual error (ADVICE
    # r10: only id_column was checked; a bad text column surfaced as a
    # raw AnalysisException from the select)
    with pytest.raises(ValueError, match="'bodyy' not in pipeline output"):
        compile_table(
            JobContext(spark, g),
            t.model_copy(
                update={
                    "quality_filter": t.quality_filter.model_copy(
                        update={"text_column": "bodyy", "reject_table": None}
                    )
                }
            ),
        )
    # streaming refusal
    from orion_etl_oracle_to_postgres_spark.compiler import (
        _assert_streaming_spec,
    )

    t_stream = t.model_copy(
        update={
            "quality_filter": t.quality_filter.model_copy(
                update={"reject_table": None}
            ),
            "incremental": spec_mod.IncrementalSpec(
                watermark_column="id", mode="streaming"
            ),
        }
    )
    with pytest.raises(ValueError, match="method=nb"):
        _assert_streaming_spec(JobContext(spark, g), t_stream, None)


def test_nb_gate_explain_only_executes_nothing(spark, tmp_path):
    """--explain on an nb-gated table must execute NOTHING beyond the
    inherent parquet schema `load` jobs: the keep_labels probe collect
    and nb_score's broadcast-guard count are both gated behind
    ctx.explain_only (VERDICT r10 ask #7 — the probe path landed in the
    r10 review pass and needs its own stage-scan pin)."""
    import orion_etl_oracle_to_postgres_spark.spec as spec_mod
    from orion_etl_oracle_to_postgres_spark.compiler import (
        JobContext,
        compile_table,
    )
    from orion_etl_oracle_to_postgres_spark.operators.text import nb_train

    src = tmp_path / "src"
    seed = spark.createDataFrame(
        [(1, "apple banana fruit", "food"), (2, "gear engine motor", "cars")],
        "id long, body string, cls string",
    )
    model, priors = nb_train(seed, "body", "cls")
    model.write.parquet(str(src / "nb_model"))
    priors.write.parquet(str(src / "nb_priors"))
    spark.createDataFrame(
        [(10, "sweet banana")], "id long, body string"
    ).write.parquet(str(src / "corpus"))
    g = spec_mod.GlobalSpec(
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_files=spec_mod.FilesConnectorSpec(
                base_path=str(tmp_path / "out")
            ),
        )
    )
    t = spec_mod.TableSpec(
        source_table="corpus",
        target_table="corpus_food",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(source="body", target="body"),
        ],
        quality_filter=spec_mod.QualityFilterSpec(
            text_column="body", method="nb", id_column="id",
            nb_model_table="nb_model", nb_priors_table="nb_priors",
            # a label the model does NOT have: the real run fails the
            # probe loudly; explain-only must not even run it
            keep_labels=["nonexistent"], min_margin=0.1,
        ),
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    compile_table(JobContext(spark, g, explain_only=True), t)
    after = set(tracker.getJobIdsForGroup(None) or [])
    jsc = spark.sparkContext._jsc.sc().statusTracker()
    for job_id in sorted(after - before):
        info = jsc.getJobInfo(job_id)
        if not info.isDefined():
            continue
        for sid in list(info.get().stageIds()):
            si = jsc.getStageInfo(sid)
            assert not si.isDefined() or si.get().name().startswith("load at"), (
                f"explain-only nb compile executed stage: {si.get().name()}"
            )
    # sanity: the REAL run does execute the probe and fails loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="not in the mounted model"):
        compile_table(JobContext(spark, g), t)


def test_scan_fanout_skips_boolean_key(spark, tmp_path):
    """A table whose first scalar column is a flag must not hash on it
    (2 buckets): the fan-out falls through to the next scalar column and
    fills more than 2 of the session's partitions."""
    from orion_etl_oracle_to_postgres_spark.sources.files import scan_fanout

    path = str(tmp_path / "flagged.parquet")
    (
        spark.range(20_000)
        .select(
            (F.col("id") % 2 == 0).alias("active"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            F.col("id"),
        )
        .coalesce(1)
        .write.parquet(path)
    )
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    out = scan_fanout(spark, df, path)
    sizes = out.rdd.glom().map(len).collect()
    assert sum(sizes) == 20_000
    assert sum(1 for n in sizes if n) > 2, sizes
