"""The target rule lives in ``sinks``: every target write goes through
it, files targets live at ``<base>/<table>`` for reads and writes alike,
and a JDBC target gets the job's batch size on every write."""

from __future__ import annotations

import ast
from pathlib import Path

import orion_etl_oracle_to_postgres_spark as pkg
import orion_etl_oracle_to_postgres_spark.spec as spec_mod
from orion_etl_oracle_to_postgres_spark.compiler import JobContext, run_job, run_table


def _mappings(*cols):
    return [spec_mod.MappingSpec(source=c, target=c) for c in cols]


def test_jdbc_side_outputs_use_job_batch_size(spark, tmp_path, monkeypatch):
    """The quarantine side output of a JDBC-target table is written with
    the same schema and batch size as the table itself."""
    import orion_etl_oracle_to_postgres_spark.sinks as sinks

    src = tmp_path / "src"
    spark.createDataFrame([(1, "AA"), (2, "xx")], "id int, code string").write.parquet(
        str(src / "t.parquet")
    )
    writes = []

    def spy(df, conn, table, schema=None, mode="overwrite", **kw):
        # run the plan so the validation Observations get their values
        df.write.format("noop").mode("overwrite").save()
        writes.append((table, schema, kw.get("batchsize")))

    monkeypatch.setattr(sinks, "write_jdbc_table", spy)
    g = spec_mod.GlobalSpec(
        batch_size=2000,
        connectors=spec_mod.ConnectorsSpec(
            source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
            target_jdbc=spec_mod.JdbcConnectorSpec(url="jdbc:derby:memory:unused"),
        ),
    )
    t = spec_mod.TableSpec(
        source_table="t",
        target_table="t_out",
        target_schema="stg",
        quarantine_table="t_rejects",
        mappings=[
            spec_mod.MappingSpec(source="id", target="id"),
            spec_mod.MappingSpec(
                source="code",
                target="code",
                validation=[
                    spec_mod.ValidationSpec(
                        type="regex", pattern="[A-Z]+", on_fail="quarantine"
                    )
                ],
            ),
        ],
    )
    run_table(JobContext(spark, g), t)
    assert writes == [("t_out", "stg", 2000), ("t_rejects", "stg", 2000)]


def test_scd2_merges_the_written_files_target_not_a_schema_copy(spark, tmp_path):
    """A files target is read where it is written (``<base>/<table>``):
    a stale ``<base>/public/<table>`` beside it is not what the SCD2
    merge reads, even though ``target_schema`` defaults to public."""
    from orion_etl_oracle_to_postgres_spark.operators.scd import scd2_initial

    out = tmp_path / "out"

    def job(night, rows):
        src = tmp_path / f"src{night}"
        spark.createDataFrame(rows, ["id", "seg"]).write.parquet(str(src / "cust.parquet"))
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
                    mappings=_mappings("id", "seg"),
                    scd2=spec_mod.Scd2Spec(
                        key="id", compare_columns=["seg"], effective_time=night
                    ),
                )
            ],
        )

    assert run_job(spark, job("2024-01-01", [(1, "A"), (2, "B")])) == {"dim_cust": 2}
    stale = spark.createDataFrame([(1, "STALE")], ["id", "seg"])
    scd2_initial(stale, "id", ["seg"], "2023-01-01").write.parquet(
        str(out / "public" / "dim_cust")
    )

    assert run_job(spark, job("2024-02-01", [(1, "A"), (2, "C")])) == {"dim_cust": 3}
    got = spark.read.parquet(str(out / "dim_cust"))
    assert sorted((r["id"], r["seg"]) for r in got.collect()) == [
        (1, "A"), (2, "B"), (2, "C"),
    ]


def test_csv_files_target_zorder_and_manifest(spark, tmp_path):
    """A csv files target through the z-order write and the manifest:
    every data file carries one header line, and the manifest counts
    exactly the data rows."""
    from orion_etl_oracle_to_postgres_spark.sinks.manifest import read_manifest

    src, out = tmp_path / "src", tmp_path / "out"
    n = 300
    rows = [(i, float(i % 17), float((i * 7) % 23)) for i in range(n)]
    spark.createDataFrame(rows, ["id", "x", "y"]).repartition(3).write.parquet(
        str(src / "t.parquet")
    )
    job = spec_mod.JobSpec(
        global_spec=spec_mod.GlobalSpec(
            connectors=spec_mod.ConnectorsSpec(
                source_files=spec_mod.FilesConnectorSpec(base_path=str(src)),
                target_files=spec_mod.FilesConnectorSpec(
                    base_path=str(out), format="csv"
                ),
            )
        ),
        tables=[
            spec_mod.TableSpec(
                source_table="t",
                target_table="t_z",
                zorder_by=["x", "y"],
                manifest=True,
                mappings=_mappings("id", "x", "y"),
            )
        ],
    )
    assert run_job(spark, job) == {"t_z": n}

    files = sorted((out / "t_z").glob("part-*.csv"))
    assert files
    data_lines = 0
    for f in files:
        lines = f.read_text().splitlines()
        assert lines[0] == "id,x,y"
        assert lines.count("id,x,y") == 1
        data_lines += len(lines) - 1
    assert data_lines == n
    assert read_manifest(spark, str(out / "t_z"))["n_rows"] == n


_CONNECTOR_FIELDS = {"target_files", "target_jdbc", "postgres"}
_ALLOWED_READERS = {
    ("compiler.py", "JobContext._read_target"),
    ("runner.py", "smoke_check"),
}


def _connector_reads(path: Path):
    """(enclosing qualname, attribute) for every read of a target
    connector field in one module."""
    found = []

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = [*scope, node.name]
        if (
            isinstance(node, ast.Attribute)
            and node.attr in _CONNECTOR_FIELDS
            and isinstance(node.ctx, ast.Load)
        ):
            found.append((".".join(scope), node.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(path.read_text()), [])
    return found


def test_only_sinks_know_the_target_connectors():
    """The files-vs-JDBC decision for a target write is made in
    ``sinks/`` only; outside it, the target connector fields are read by
    the target reader and the startup ping alone."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "sinks":
            continue
        for scope, attr in _connector_reads(path):
            if (str(rel), scope) not in _ALLOWED_READERS:
                offenders.append(f"{rel}:{scope}: .{attr}")
    assert offenders == []
    # the scan sees the reads it allows
    compiler_reads = _connector_reads(root / "compiler.py")
    assert ("JobContext._read_target", "target_files") in compiler_reads
