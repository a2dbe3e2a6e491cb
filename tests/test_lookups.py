"""Lookup joins J1/J2 (SURVEY.md §2.5) — on_missing ladder, text
normalization, first-match determinism, self-lookup hierarchy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orion_etl_oracle_to_postgres_spark.operators.lookups import (
    external_lookup,
    self_lookup,
)
from orion_etl_oracle_to_postgres_spark.spec import LookupSpec


def _fact(spark):
    return spark.createDataFrame(
        [(1, "10"), (2, "20"), (3, "99"), (4, None)], "id int, dim_key string"
    )


def _dim(spark):
    return spark.createDataFrame(
        [(10, "ten"), (20, "twenty")], "k int, v string"
    )


def _lk(on_missing=None):
    return LookupSpec(table="d", key_column="k", value_column="v", on_missing=on_missing)


def _vals(df, col="dim_key"):
    return [r[col] for r in df.orderBy("id").collect()]


def test_lookup_null_policy(spark):
    out = external_lookup(_fact(spark), "dim_key", _lk("null"), _dim(spark))
    assert _vals(out) == ["ten", "twenty", None, None]


def test_lookup_skip_policy_null_bypasses(spark):
    # ref default_lookup.py:52-53 — NULL keys skip the lookup, keep the row
    out = external_lookup(_fact(spark), "dim_key", _lk("skip"), _dim(spark))
    assert _vals(out) == ["ten", "twenty", None]
    assert [r["id"] for r in out.orderBy("id").collect()] == [1, 2, 4]


def test_lookup_default_policy_preserves_case(spark):
    out = external_lookup(_fact(spark), "dim_key", _lk("default:MissinG"), _dim(spark))
    assert _vals(out) == ["ten", "twenty", "MissinG", None]


def test_lookup_error_policy(spark):
    with pytest.raises(RuntimeError, match="lookup failed"):
        external_lookup(_fact(spark), "dim_key", _lk("error"), _dim(spark)).collect()


def test_lookup_error_policy_passes_when_all_present(spark):
    fact = spark.createDataFrame([(1, "10")], "id int, dim_key string")
    out = external_lookup(fact, "dim_key", _lk("error"), _dim(spark))
    assert _vals(out) == ["ten"]


def test_lookup_text_normalized_keys(spark):
    # int fact key joins string dim key: both cast to text (§7.4.3)
    fact = spark.createDataFrame([(1, 10)], "id int, dim_key int")
    out = external_lookup(fact, "dim_key", _lk("null"), _dim(spark))
    assert _vals(out) == ["ten"]


def test_lookup_first_match_deterministic(spark):
    # duplicate dim keys: reference fetchone() is order-nondeterministic;
    # we pin min-by-value (§7.4.2)
    dim = spark.createDataFrame([(10, "zzz"), (10, "aaa")], "k int, v string")
    fact = spark.createDataFrame([(1, "10")], "id int, dim_key string")
    out = external_lookup(fact, "dim_key", _lk("null"), dim)
    assert _vals(out) == ["aaa"]


def test_self_lookup_hierarchy(spark):
    # org-unit hierarchy: parent_id holds the natural key; resolve to the
    # parent's name via ONE self-join. Parent-after-child included (§7.4.7).
    df = spark.createDataFrame(
        [(1, "root", None), (2, "child", 1), (3, "grandchild", 2), (4, "orphan", 99)],
        "unit_id int, unit_name string, parent_ref int",
    )
    out = self_lookup(
        df, "parent_ref", LookupSpec(table="t", key_column="unit_id", value_column="unit_name")
    )
    got = {r["unit_id"]: r["parent_ref"] for r in out.collect()}
    assert got == {1: None, 2: "root", 3: "child", 4: None}


def test_self_lookup_ignores_null_values(spark):
    # rows whose value_column is NULL never serve as parents (ref UPDATE
    # ... WHERE source.val IS NOT NULL, default_loader.py:131-138)
    df = spark.createDataFrame(
        [(1, None, None), (2, "child", 1)],
        "unit_id int, unit_name string, parent_ref int",
    )
    out = self_lookup(
        df, "parent_ref", LookupSpec(table="t", key_column="unit_id", value_column="unit_name")
    )
    got = {r["unit_id"]: r["parent_ref"] for r in out.collect()}
    assert got == {1: None, 2: None}


def test_lookup_is_broadcast(spark):
    from orion_etl_oracle_to_postgres_spark.plans import has_broadcast_join

    out = external_lookup(_fact(spark), "dim_key", _lk("null"), _dim(spark))
    assert has_broadcast_join(out)


def test_lookup_cache_pins_on_reuse(spark, sf_dir):
    """First request returns the plain plan; a second request for the
    same dimension (a later table in the job) swaps in one lazy
    localCheckpoint, and every request after that reuses it."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
        LookupSpec,
    )

    g = GlobalSpec(
        connectors=ConnectorsSpec(source_files=FilesConnectorSpec(base_path=sf_dir))
    )
    ctx = JobContext(spark, g)
    lk = LookupSpec(table="nation", key_column="n_nationkey", value_column="n_name")
    first = ctx.lookup_table(lk)
    second = ctx.lookup_table(lk)
    third = ctx.lookup_table(lk)
    assert second is not first  # reuse swapped in the checkpointed plan
    assert third is second  # and it is stable from then on
    assert second.count() == first.count()


# --- versioned (SCD2 point-in-time) lookup ------------------------------


def _vdim(spark):
    import datetime as dt

    return spark.createDataFrame(
        [
            ("k1", "old", dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)),
            ("k1", "new", dt.datetime(2024, 6, 1), None),
            ("k2", "only", dt.datetime(2024, 3, 1), None),
        ],
        "code string, name string, valid_from timestamp, valid_to timestamp",
    )


def _vfact(spark):
    import datetime as dt

    return spark.createDataFrame(
        [
            (1, "k1", dt.datetime(2024, 2, 1)),   # -> old
            (2, "k1", dt.datetime(2024, 7, 1)),   # -> new
            (3, "k2", dt.datetime(2024, 1, 1)),   # before first version
            (4, None, dt.datetime(2024, 1, 1)),   # NULL key bypasses
        ],
        "id int, code string, ts timestamp",
    )


def test_versioned_lookup_pit_semantics_null_policy(spark):
    from orion_etl_oracle_to_postgres_spark.operators.lookups import external_lookup
    from orion_etl_oracle_to_postgres_spark.spec import LookupSpec

    lk = LookupSpec(
        table="dim", key_column="code", value_column="name",
        on_missing="null", ts_column="ts",
    )
    out = {r.id: r.code for r in
           external_lookup(_vfact(spark), "code", lk, _vdim(spark)).collect()}
    assert out == {1: "old", 2: "new", 3: None, 4: None}


def test_versioned_lookup_skip_and_default(spark):
    from orion_etl_oracle_to_postgres_spark.operators.lookups import external_lookup
    from orion_etl_oracle_to_postgres_spark.spec import LookupSpec

    skip = LookupSpec(table="dim", key_column="code", value_column="name",
                      on_missing="skip", ts_column="ts")
    kept = {r.id for r in
            external_lookup(_vfact(spark), "code", skip, _vdim(spark)).collect()}
    assert kept == {1, 2, 4}  # no-valid-version row 3 dropped; NULL key kept
    dflt = LookupSpec(table="dim", key_column="code", value_column="name",
                      on_missing="default:none", ts_column="ts")
    out = {r.id: r.code for r in
           external_lookup(_vfact(spark), "code", dflt, _vdim(spark)).collect()}
    assert out == {1: "old", 2: "new", 3: "none", 4: None}


def test_versioned_lookup_error_policy_and_guards(spark):
    import datetime as dt

    import pytest as _pt

    from orion_etl_oracle_to_postgres_spark.operators.lookups import external_lookup
    from orion_etl_oracle_to_postgres_spark.spec import LookupSpec

    err = LookupSpec(table="dim", key_column="code", value_column="name",
                     on_missing="error", ts_column="ts")
    with _pt.raises(RuntimeError, match="not found"):
        external_lookup(_vfact(spark), "code", err, _vdim(spark))
    # overlapping intervals must be refused, not silently duplicate facts
    bad = spark.createDataFrame(
        [
            ("k1", "a", dt.datetime(2024, 1, 1), None),
            ("k1", "b", dt.datetime(2024, 3, 1), None),
        ],
        "code string, name string, valid_from timestamp, valid_to timestamp",
    )
    ok = LookupSpec(table="dim", key_column="code", value_column="name",
                    on_missing="null", ts_column="ts")
    with _pt.raises(RuntimeError, match="overlapping"):
        external_lookup(_vfact(spark), "code", ok, bad)
    # missing ts / interval columns fail loudly at build time
    with _pt.raises(ValueError, match="ts_column"):
        external_lookup(_vfact(spark).drop("ts"), "code", ok, _vdim(spark))
    with _pt.raises(ValueError, match="interval"):
        external_lookup(_vfact(spark), "code", ok, _vdim(spark).drop("valid_to"))


def test_non_versioned_lookup_unchanged(spark):
    """Regression: the classic first-match path still works with the
    refactored join-condition plumbing."""
    from orion_etl_oracle_to_postgres_spark.operators.lookups import external_lookup
    from orion_etl_oracle_to_postgres_spark.spec import LookupSpec

    dim = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], "code string, name string")
    fact = spark.createDataFrame([(1, "k1"), (2, "k9")], "id int, code string")
    lk = LookupSpec(table="dim", key_column="code", value_column="name",
                    on_missing="null")
    out = {r.id: r.code for r in external_lookup(fact, "code", lk, dim).collect()}
    assert out == {1: "v1", 2: None}


@pytest.mark.parametrize(
    "target_error, falls_back",
    [
        (RuntimeError("Connection refused"), False),
        (RuntimeError("password authentication failed for user etl"), False),
        (RuntimeError("ERROR 42X05: Table/View 'NATION' does not exist."), True),
        (RuntimeError('ERROR: relation "nation" does not exist (SQLSTATE 42P01)'), True),
    ],
)
def test_lookup_falls_back_to_source_only_when_target_table_missing(
    spark, sf_dir, target_error, falls_back
):
    """A missing target table falls back to the same-named source table;
    any other target-side failure (network, auth) propagates instead of
    silently reading the source."""
    from orion_etl_oracle_to_postgres_spark.compiler import JobContext
    from orion_etl_oracle_to_postgres_spark.spec import (
        ConnectorsSpec,
        FilesConnectorSpec,
        GlobalSpec,
    )

    g = GlobalSpec(
        connectors=ConnectorsSpec(source_files=FilesConnectorSpec(base_path=sf_dir))
    )
    ctx = JobContext(spark, g)

    def failing_target(table, schema=None):
        raise target_error

    ctx._read_target = failing_target
    lk = LookupSpec(table="nation", key_column="n_nationkey", value_column="n_name")
    if falls_back:
        assert ctx.lookup_table(lk).count() == 25
    else:
        with pytest.raises(RuntimeError) as info:
            ctx.lookup_table(lk)
        assert info.value is target_error
