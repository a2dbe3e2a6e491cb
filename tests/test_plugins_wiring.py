"""Extension-point wiring: the reference resolves auto-mapping,
fetcher, transform, VALIDATION, and loader plugins per table
(``/root/reference/pipeline.py:27-28,54-66``); mapping-level plugins are
declared in its dialect (``mappings/parser.py:64``). These tests pin
that every category actually participates in compilation — a registered
plugin that never runs is a silent config no-op — and that plugin-
internal KeyErrors propagate instead of being misread as "plugin not
found" (which would silently fall back to the default scan/sink and
could double-load a table).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orion_etl_oracle_to_postgres_spark import registry
from orion_etl_oracle_to_postgres_spark.compiler import (
    JobContext,
    compile_table,
    run_job,
    run_table,
)
from orion_etl_oracle_to_postgres_spark.spec import (
    ConnectorsSpec,
    FilesConnectorSpec,
    GlobalSpec,
    JobSpec,
    MappingSpec,
    TableSpec,
)


def _ctx(spark, sf_dir, target_path=None, **global_kw) -> JobContext:
    conns = ConnectorsSpec(
        source_files=FilesConnectorSpec(base_path=sf_dir),
        target_files=(
            FilesConnectorSpec(base_path=str(target_path)) if target_path else None
        ),
    )
    return JobContext(spark, GlobalSpec(connectors=conns, **global_kw))


def test_custom_validation_plugin_filters_rows(spark, sf_dir):
    @registry.register("validation", "wire_only_positive")
    def only_positive(df, ctx):
        return df.filter(F.col("balance") > 0)

    spec = TableSpec(
        source_table="customer",
        target_table="c_v",
        validation_plugins=["wire_only_positive"],
        mappings=[
            MappingSpec(source="c_custkey", target="cust_id"),
            MappingSpec(source="c_acctbal", target="balance"),
        ],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert df.filter(F.col("balance") <= 0).count() == 0
    assert df.count() > 0


def test_global_validation_plugin_chain_runs(spark, sf_dir):
    @registry.register("validation", "wire_global_tag")
    def tag(df, ctx):
        return df.withColumn("tagged", F.lit(True))

    ctx = _ctx(spark, sf_dir, validation_plugins=["default_validation", "wire_global_tag"])
    spec = TableSpec(
        source_table="region",
        target_table="r_v",
        mappings=[MappingSpec(source="r_regionkey", target="r_regionkey")],
    )
    df = compile_table(ctx, spec).df
    assert "tagged" in df.columns


def test_mapping_plugin_runs_after_transform_chain(spark, sf_dir):
    @registry.register("column", "wire_negate")
    def negate(col, ctx, mapping):
        assert mapping.target == "neg_size"
        return -col

    spec = TableSpec(
        source_table="part",
        target_table="p_v",
        mappings=[
            MappingSpec(source="p_partkey", target="part_id"),
            MappingSpec(source="p_size", target="neg_size", transform="to_int",
                        plugin="wire_negate"),
        ],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert df.filter(F.col("neg_size") > 0).count() == 0


def test_sourceless_mapping_with_plugin(spark, sf_dir):
    @registry.register("column", "wire_const")
    def const(col, ctx, mapping):
        assert col is None  # plugin-only mapping gets no input column
        return F.lit("generated")

    spec = TableSpec(
        source_table="region",
        target_table="r_v",
        mappings=[
            MappingSpec(source="r_regionkey", target="rk"),
            MappingSpec(source=None, target="gen", plugin="wire_const"),
        ],
    )
    df = compile_table(_ctx(spark, sf_dir), spec).df
    assert df.select("gen").first()[0] == "generated"


def test_sourceless_mapping_without_plugin_fails_loudly(spark, sf_dir):
    spec = TableSpec(
        source_table="region",
        target_table="r_v",
        mappings=[MappingSpec(source=None, target="ghost")],
    )
    with pytest.raises(ValueError, match="no source column"):
        compile_table(_ctx(spark, sf_dir), spec)


def test_fetcher_internal_keyerror_propagates(spark, sf_dir):
    @registry.register("fetcher", "wire_boom_fetcher")
    def boom(ctx, spec):
        raise KeyError("plugin-internal miss")

    spec = TableSpec(
        source_table="region", target_table="r_v", fetcher_plugin="wire_boom_fetcher"
    )
    # must NOT be swallowed into "plugin not found → default scan"
    with pytest.raises(KeyError, match="plugin-internal miss"):
        compile_table(_ctx(spark, sf_dir), spec)


def test_loader_internal_keyerror_propagates(spark, sf_dir, tmp_path):
    @registry.register("loader", "wire_boom_loader")
    def boom(df, ctx, spec):
        raise KeyError("plugin-internal miss")

    spec = TableSpec(
        source_table="region", target_table="r_boom", loader_plugin="wire_boom_loader"
    )
    with pytest.raises(KeyError, match="plugin-internal miss"):
        run_table(_ctx(spark, sf_dir, target_path=tmp_path), spec)
    # and the default sink must NOT have written anything (no double-load)
    assert not (tmp_path / "r_boom").exists()


def test_auto_mapping_plugin_replaces_default(spark, sf_dir):
    @registry.register("auto_mapping", "wire_no_comment")
    def no_comment(ctx, spec, source_columns, target_columns):
        return [
            MappingSpec(source=c, target=c)
            for c in source_columns
            if not c.endswith("_comment")
        ]

    ctx = _ctx(spark, sf_dir, auto_mapping_plugin="wire_no_comment")
    df = compile_table(ctx, TableSpec(source_table="region", target_table="r_v")).df
    assert "r_comment" not in df.columns and "r_name" in df.columns


def test_auto_mapping_prefers_existing_target_catalog(spark, sf_dir, tmp_path):
    """P2/S7 parity: empty mappings + existing NARROWER target ⇒ the
    target's column set wins (reference reads information_schema in
    ordinal order, ``default_auto_mapping.py:18-26``)."""
    spark.createDataFrame([], "n_nationkey bigint, n_name string").write.parquet(
        str(tmp_path / "nation_copy")
    )
    ctx = _ctx(spark, sf_dir, target_path=tmp_path)
    df = compile_table(
        ctx, TableSpec(source_table="nation", target_table="nation_copy")
    ).df
    assert df.columns == ["n_nationkey", "n_name"]


def test_run_job_reports_written_rowcounts_via_observe(spark, sf_dir, tmp_path):
    """run_job's report counts come from observe() metrics on the write
    action — one execution per table, and the report reflects what was
    actually written."""
    job = JobSpec(
        global_spec=GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=sf_dir),
                target_files=FilesConnectorSpec(base_path=str(tmp_path)),
            )
        ),
        tables=[
            TableSpec(
                source_table="region",
                target_table="region_out",
                mappings=[MappingSpec(source="r_regionkey", target="rk")],
            )
        ],
    )
    results = run_job(spark, job)
    written = spark.read.parquet(str(tmp_path / "region_out"))
    assert results == {"region_out": written.count()} == {"region_out": 5}


def test_transform_plugin_finalize_hook_runs_after_write(spark, sf_dir, tmp_path):
    """Reference TransformPlugin.finalize_batch parity: a transform
    plugin's ``finalize`` attribute runs once, after the sink write."""
    calls = []

    @registry.register("transform", "wire_finalizing_transform")
    def passthrough(df, ctx):
        return df

    def _finalize(ctx, spec):
        # the write must already have happened
        assert (tmp_path / spec.target_table).exists()
        calls.append(spec.target_table)

    passthrough.finalize = _finalize

    spec = TableSpec(
        source_table="region",
        target_table="r_fin",
        transform_plugins=["wire_finalizing_transform"],
        mappings=[MappingSpec(source="r_regionkey", target="rk")],
    )
    run_table(_ctx(spark, sf_dir, target_path=tmp_path), spec)
    assert calls == ["r_fin"]


def test_finalize_hook_runs_on_custom_loader_path(spark, sf_dir, tmp_path):
    """finalize hooks must fire after EVERY load path, including a
    custom loader (reference runs finalize_batch unconditionally)."""
    calls = []

    @registry.register("transform", "wire_fin2_transform")
    def passthrough2(df, ctx):
        return df

    passthrough2.finalize = lambda ctx, spec: calls.append(spec.target_table)

    @registry.register("loader", "wire_noop_loader")
    def noop_loader(df, ctx, spec):
        df.count()  # the loader's "write"

    spec = TableSpec(
        source_table="region",
        target_table="r_fin2",
        transform_plugins=["wire_fin2_transform"],
        loader_plugin="wire_noop_loader",
    )
    run_table(_ctx(spark, sf_dir, target_path=tmp_path), spec)
    assert calls == ["r_fin2"]


def test_run_job_with_custom_loader_does_not_hang(spark, sf_dir, tmp_path):
    """run_job must not block on Observation.get when a custom loader
    runs no action on the observed plan."""

    @registry.register("loader", "wire_actionless_loader")
    def actionless(df, ctx, spec):
        pass  # deliberately NO Spark action

    job = JobSpec(
        global_spec=GlobalSpec(
            connectors=ConnectorsSpec(
                source_files=FilesConnectorSpec(base_path=sf_dir),
                target_files=FilesConnectorSpec(base_path=str(tmp_path)),
            )
        ),
        tables=[
            TableSpec(
                source_table="region",
                target_table="r_al",
                loader_plugin="wire_actionless_loader",
                mappings=[MappingSpec(source="r_regionkey", target="rk")],
            )
        ],
    )
    assert run_job(spark, job) == {"r_al": 5}


@pytest.mark.parametrize("write_path", ["default", "scd2", "loader"])
def test_every_write_path_writes_quarantine_and_finalizes_once(
    spark, tmp_path, write_path
):
    """The default sink, the scd2 merge and a custom loader all run the
    same post-write tail: the quarantine table is written and each
    transform plugin's ``finalize`` hook runs exactly once."""
    from orion_etl_oracle_to_postgres_spark.spec import Scd2Spec, ValidationSpec

    src = tmp_path / "src"
    spark.createDataFrame([(1, "AA"), (2, "xx")], "id int, code string").write.parquet(
        str(src / "t.parquet")
    )
    calls = []

    @registry.register("transform", "wire_tail_transform")
    def passthrough(df, ctx):
        return df

    passthrough.finalize = lambda ctx, spec: calls.append(spec.target_table)

    @registry.register("loader", "wire_tail_loader")
    def counting_loader(df, ctx, spec):
        df.count()

    spec = TableSpec(
        source_table="t",
        target_table="t_out",
        quarantine_table="t_rejects",
        transform_plugins=["wire_tail_transform"],
        mappings=[
            MappingSpec(source="id", target="id"),
            MappingSpec(
                source="code",
                target="code",
                validation=[
                    ValidationSpec(type="regex", pattern="[A-Z]+", on_fail="quarantine")
                ],
            ),
        ],
        scd2=(
            Scd2Spec(key="id", compare_columns=["code"], effective_time="2024-01-01")
            if write_path == "scd2"
            else None
        ),
        loader_plugin="wire_tail_loader" if write_path == "loader" else None,
    )
    run_table(_ctx(spark, str(src), target_path=tmp_path / "out"), spec)
    rejects = spark.read.parquet(str(tmp_path / "out" / "t_rejects")).collect()
    assert [r["id"] for r in rejects] == [2]
    assert calls == ["t_out"]
