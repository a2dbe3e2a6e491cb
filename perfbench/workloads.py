"""The three declarative jobs the benchmark runs.

Each workload writes its seeded inputs and its YAML job spec into a
work directory (no Spark needed), loads anything that must live in a
database once a session exists, restores per-iteration state, and
checks the job's outputs by reading them back without the engine
(pyarrow for files, Spark's plain JDBC reader for Derby).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import yaml

import checks
import gen

# Sizes: one warm job takes about a second, so a run holds many timed
# iterations (see README.md "Sizing").
JDBC_ROWS = 40_000
FILES_SALES = 50_000
FILES_CUSTOMERS = 15_000
CORPUS_DOCS = 1_500
CORPUS_CLUSTERS = 120

CORES = 2  # local[N] below the 4-core host's count: see README.md
JAVA_OPTIONS = "spark.driver.extraJavaOptions"


def spark_conf(work: Path) -> dict[str, str]:
    """The job's ``global.spark_conf``: shuffle width sized to the cores,
    a fixed 1 GiB driver heap, JVM thread pools sized to the cores, the
    C1 JIT tier only (README.md "Steadiness" says why), and every
    scratch path inside the work dir (and no JVM perf-data file outside it).
    ``run.py`` appends these JVM flags to the session's own rather than
    replacing them."""
    return {
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        JAVA_OPTIONS: (
            f"-Xms1g -XX:+UseParallelGC -XX:ActiveProcessorCount={CORES} "
            "-XX:TieredStopAtLevel=1 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'}"
        ),
    }


def _write_job(work: Path, connectors: dict, tables: dict[str, dict], extra: dict | None = None) -> Path:
    (work / "tables").mkdir(parents=True, exist_ok=True)
    for name, spec in tables.items():
        (work / "tables" / f"{name}.yaml").write_text(yaml.safe_dump(spec, sort_keys=False))
    glob = {
        "tables_folder": "tables",
        "table_files": [f"{n}.yaml" for n in tables],
        "spark_conf": spark_conf(work),
        "connectors": connectors,
        **(extra or {}),
    }
    path = work / "job.yaml"
    path.write_text(yaml.safe_dump({"global": glob}, sort_keys=False))
    return path


def _write_parquet(df, path: Path, parts: int = 1) -> None:
    """``parts`` files so a local[N] scan starts N tasks."""
    if parts == 1:
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        return
    path.mkdir(parents=True, exist_ok=True)
    step = -(-len(df) // parts)
    for i in range(parts):
        chunk = df.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path / f"part-{i}.parquet")


def _read_dataset(path: Path):
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table().to_pandas()


class Workload:
    name = ""

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed

    def generate(self) -> Path:
        """Write inputs and the job spec; return the spec path."""
        raise NotImplementedError

    @property
    def source_rows(self) -> int:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Load inputs that need a session (untimed)."""

    def before_iteration(self) -> None:
        """Restore state a job run consumes (untimed)."""

    def check(self, spark) -> list[str]:
        raise NotImplementedError

    def close(self, spark) -> None:
        """Release what ``prepare`` made."""


# ---------------------------------------------------------------------------

_DERBY_DDL = {
    "ORDERS_SRC": "ORDER_ID BIGINT, CUST_NAME VARCHAR(40), REGION_ID INT, "
    "ORDER_DATE VARCHAR(12), EMAIL VARCHAR(64), AMOUNT DOUBLE, STATUS VARCHAR(16)",
    "DIM_REGION": "REGION_ID INT, REGION_NAME VARCHAR(32)",
    # the migration target exists before the job, as a Postgres table
    # would; truncate-and-load keeps this DDL. Text columns are CLOB:
    # Spark's Derby dialect binds NULL strings as CLOB, which a VARCHAR
    # column refuses.
    "ORDERS_PG": "ORDER_ID BIGINT, CUSTOMER CLOB, REGION CLOB, "
    "ORDER_DATE DATE, EMAIL CLOB, AMOUNT DOUBLE, STATUS CLOB",
}


def derby_execute(spark, url: str, statements: list[str]) -> None:
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for s in statements:
            st.execute(s)
        st.close()
    finally:
        conn.close()


def derby_drop(spark, db: str) -> None:
    """Drop an in-memory Derby database; Derby reports success as
    SQLState 08006."""
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};drop=true")
    except Py4JJavaError as e:
        if "08006" not in str(e.java_exception.getSQLState()):
            raise


class JdbcMigrate(Workload):
    """Oracle→Postgres table migration, run Derby → Derby."""

    name = "jdbc_migrate"

    def __init__(self, work: Path, seed: int):
        super().__init__(work, seed)
        self.db = f"perfbench_{os.getpid()}"
        self.url = f"jdbc:derby:memory:{self.db};create=true"
        self.inputs = None
        self.prepared = False

    @property
    def source_rows(self) -> int:
        return JDBC_ROWS

    def generate(self) -> Path:
        self.inputs = gen.jdbc_inputs(self.seed, JDBC_ROWS)
        lo, hi = gen.AMOUNT_RANGE
        conn = {"url": self.url, "ping_sql": "VALUES 1"}
        table = {
            "source_table": "orders_src",
            "target_table": "orders_pg",
            "target_schema": None,
            "where": "STATUS <> 'CANCELLED'",
            "partition_column": "ORDER_ID",
            "num_partitions": CORES,
            "mappings": [
                {"source": "ORDER_ID", "target": "order_id"},
                {"source": "CUST_NAME", "target": "customer", "transform": "strip,upper"},
                {
                    "source": "REGION_ID",
                    "target": "region",
                    "lookup": {
                        "table": "dim_region",
                        "key_column": "REGION_ID",
                        "value_column": "REGION_NAME",
                        "on_missing": "default:UNKNOWN",
                    },
                },
                {"source": "ORDER_DATE", "target": "order_date", "transform": "to_date"},
                {
                    "source": "EMAIL",
                    "target": "email",
                    "validation": [{"type": "regex", "pattern": gen.EMAIL_PATTERN}],
                },
                {
                    "source": "AMOUNT",
                    "target": "amount",
                    "validation": [
                        {"type": "range", "pattern": f"{lo:g}-{hi:g}", "on_fail": "default:-1"}
                    ],
                },
                {"source": "STATUS", "target": "status", "transform": "strip,upper"},
            ],
        }
        return _write_job(
            self.work,
            {"source_jdbc": conn, "target_jdbc": conn},
            {"orders_pg": table},
            {"batch_size": 1000},
        )

    def prepare(self, spark) -> None:
        self.prepared = True
        derby_execute(spark, self.url, [f"CREATE TABLE {t} ({c})" for t, c in _DERBY_DDL.items()])
        for table, frame in (("ORDERS_SRC", self.inputs.orders), ("DIM_REGION", self.inputs.regions)):
            (
                spark.createDataFrame(frame)
                .write.format("jdbc")
                .option("url", self.url)
                .option("dbtable", table)
                .option("batchsize", "5000")
                .mode("append")
                .save()
            )

    def check(self, spark) -> list[str]:
        got = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", "ORDERS_PG")
            .load()
            .toPandas()
        )
        return checks.check_jdbc(self.inputs.expected, got)

    def close(self, spark) -> None:
        if self.prepared:
            derby_drop(spark, self.db)


class FilesNightly(Workload):
    """Nightly parquet → parquet job: a fact load and an SCD2 merge."""

    name = "files_nightly"

    def __init__(self, work: Path, seed: int):
        super().__init__(work, seed)
        self.src, self.tgt = work / "src", work / "tgt"
        self.pristine = work / "night1" / "dim_customer"
        self.inputs = None

    @property
    def source_rows(self) -> int:
        return len(self.inputs.sales) + len(self.inputs.cust_night2)

    def generate(self) -> Path:
        inp = self.inputs = gen.files_inputs(self.seed, FILES_SALES, FILES_CUSTOMERS)
        _write_parquet(inp.sales, self.src / "sales", parts=CORES)
        _write_parquet(inp.stores, self.src / "dim_store.parquet")
        _write_parquet(inp.products, self.src / "dim_product.parquet")
        _write_parquet(inp.cust_night2, self.src / "customers.parquet")
        _write_parquet(inp.cust_night1, self.pristine / "part-0.parquet")
        lo, hi = gen.PRICE_RANGE

        def lookup(col, table, value):
            return {
                "source": f"{col}_id",
                "target": col,
                "lookup": {
                    "table": table,
                    "key_column": f"{col}_id",
                    "value_column": value,
                    "on_missing": "default:UNKNOWN",
                },
            }

        fact = {
            "source_table": "sales",
            "target_table": "fact_sales",
            "target_schema": None,
            "where": "qty > 0",
            "quarantine_table": "fact_sales_rejects",
            "partition_by": ["sale_date"],
            "dedup": {"method": "exact", "columns": ["order_no", "line_no"], "id_column": "sale_id"},
            "mappings": [
                {"source": "sale_id"},
                {"source": "order_no"},
                {"source": "line_no"},
                lookup("store", "dim_store", "store_name"),
                lookup("product", "dim_product", "product_name"),
                {"source": "sale_date"},
                {"source": "qty"},
                {
                    "source": "unit_price",
                    "validation": [{"type": "range", "pattern": f"{lo:g}-{hi:g}", "on_fail": "quarantine"}],
                },
                {
                    "source": "channel",
                    "transform": "strip,upper",
                    "validation": [
                        {
                            "type": "regex",
                            "pattern": "^(" + "|".join(gen.CHANNELS) + ")$",
                            "on_fail": "quarantine",
                        }
                    ],
                },
            ],
        }
        dim = {
            "source_table": "customers",
            "target_table": "dim_customer",
            "target_schema": None,
            "scd2": {
                "key": "cust_id",
                "compare_columns": ["name", "city", "segment"],
                "effective_time": gen.NIGHT2,
            },
            "mappings": [{"source": c} for c in ("cust_id", "name", "city", "segment")],
        }
        return _write_job(
            self.work,
            {
                "source_files": {"base_path": str(self.src)},
                "target_files": {"base_path": str(self.tgt)},
            },
            {"fact_sales": fact, "dim_customer": dim},
        )

    def before_iteration(self) -> None:
        """Put yesterday's dimension back: the SCD2 merge rewrites it."""
        target = self.tgt / "dim_customer"
        for leftover in (target, Path(f"{target}.__scd2"), Path(f"{target}.__old")):
            shutil.rmtree(leftover, ignore_errors=True)
        shutil.copytree(self.pristine, target)

    def check(self, spark) -> list[str]:
        return checks.check_files_nightly(
            self.inputs,
            gen.files_revenue(self.inputs),
            _read_dataset(self.tgt / "fact_sales"),
            _read_dataset(self.tgt / "fact_sales_rejects"),
            _read_dataset(self.tgt / "dim_customer"),
        )


class CorpusDedup(Workload):
    """Declarative MinHash near-duplicate removal over a document corpus."""

    name = "corpus_dedup"

    def __init__(self, work: Path, seed: int):
        super().__init__(work, seed)
        self.inputs = None

    @property
    def source_rows(self) -> int:
        return CORPUS_DOCS

    def generate(self) -> Path:
        self.inputs = gen.corpus_inputs(self.seed, CORPUS_DOCS, CORPUS_CLUSTERS)
        _write_parquet(self.inputs.docs, self.work / "src" / "docs.parquet")
        table = {
            "source_table": "docs",
            "target_table": "docs_dedup",
            "target_schema": None,
            "dedup": {
                "method": "minhash",
                "text_column": "text",
                "id_column": "doc_id",
                "threshold": gen.THRESHOLD,
                "shingle_n": gen.SHINGLE_N,
                "num_hashes": 64,
                "bands": 16,
            },
            "mappings": [{"source": "doc_id"}, {"source": "text"}],
        }
        return _write_job(
            self.work,
            {
                "source_files": {"base_path": str(self.work / "src")},
                "target_files": {"base_path": str(self.work / "tgt")},
            },
            {"docs_dedup": table},
        )

    def check(self, spark) -> list[str]:
        out = _read_dataset(self.work / "tgt" / "docs_dedup")
        return checks.check_corpus(self.inputs, out["doc_id"])


WORKLOADS = {w.name: w for w in (JdbcMigrate, FilesNightly, CorpusDedup)}
