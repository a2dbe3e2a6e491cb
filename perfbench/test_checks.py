"""Self-tests of the output checks: each check passes on a correct
output and fails on a deliberately corrupted one. No Spark needed.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


# --- jdbc_migrate --------------------------------------------------------

@pytest.fixture(scope="module")
def jdbc():
    return gen.jdbc_inputs(seed=7, n_rows=2000)


def _as_derby(expected: pd.DataFrame) -> pd.DataFrame:
    """The target as Spark's JDBC reader returns it: uppercase columns."""
    return expected.rename(columns=str.upper).sample(frac=1.0, random_state=1)


def test_jdbc_correct_target_passes(jdbc):
    assert checks.check_jdbc(jdbc.expected, _as_derby(jdbc.expected)) == []


def test_jdbc_dropped_row_fails(jdbc):
    assert checks.check_jdbc(jdbc.expected, _as_derby(jdbc.expected).iloc[1:])


def test_jdbc_changed_lookup_value_fails(jdbc):
    bad = _as_derby(jdbc.expected)
    bad.iloc[0, bad.columns.get_loc("REGION")] = "Region 99"
    assert checks.check_jdbc(jdbc.expected, bad)


def test_jdbc_inputs_plant_every_case(jdbc):
    e = jdbc.expected
    assert (e["region"] == "UNKNOWN").any()
    assert e["email"].isna().any() and e["order_date"].isna().any()
    assert (e["amount"] == -1.0).any()
    assert len(e) < len(jdbc.orders)  # the where clause drops cancelled rows


# --- files_nightly -------------------------------------------------------

@pytest.fixture(scope="module")
def files():
    return gen.files_inputs(seed=7, n_sales=4000, n_customers=1000)


def _correct_outputs(inp: gen.FilesInputs):
    """What a correct job writes, built row by row from the planted sets."""
    s = inp.sales[inp.sales["qty"] > 0].copy()
    s["channel"] = s["channel"].str.strip(" ").str.upper()
    bad = s["sale_id"].isin(inp.invalid_ids)
    quarantine = s[bad]
    fact = s[~bad].sort_values("sale_id").drop_duplicates(["order_no", "line_no"])
    stores = dict(zip(inp.stores["store_id"], inp.stores["store_name"]))
    products = dict(zip(inp.products["product_id"], inp.products["product_name"]))
    fact = fact.assign(
        store=[stores.get(k, "UNKNOWN") for k in fact["store_id"]],
        product=[products.get(k, "UNKNOWN") for k in fact["product_id"]],
    ).drop(columns=["store_id", "product_id"])
    eff = pd.Timestamp(gen.NIGHT2, tz="UTC")
    dim = inp.cust_night1.copy()
    changed = dim["cust_id"].isin(inp.changed_keys)
    dim.loc[changed, "valid_to"] = eff
    tonight = inp.cust_night2[
        inp.cust_night2["cust_id"].isin(inp.changed_keys | inp.new_keys)
    ].assign(valid_from=eff, valid_to=pd.NaT)
    dim = pd.concat([dim, tonight], ignore_index=True)
    return fact.reset_index(drop=True), quarantine.reset_index(drop=True), dim


def _check(inp, fact, quarantine, dim):
    return checks.check_files_nightly(inp, gen.files_revenue(inp), fact, quarantine, dim)


def test_files_correct_outputs_pass(files):
    assert _check(files, *_correct_outputs(files)) == []


def test_files_dropped_row_fails(files):
    fact, q, dim = _correct_outputs(files)
    assert _check(files, fact.iloc[1:], q, dim)


def test_files_changed_lookup_value_fails(files):
    fact, q, dim = _correct_outputs(files)
    fact.loc[0, "store"] = "Store 999"
    assert _check(files, fact, q, dim)


def test_files_kept_planted_duplicate_fails(files):
    fact, q, dim = _correct_outputs(files)
    dup_id = min(files.dup_ids)
    row = files.sales[files.sales["sale_id"] == dup_id]
    original = fact[(fact["order_no"] == row["order_no"].iloc[0]) & (fact["line_no"] == row["line_no"].iloc[0])]
    kept = original.assign(sale_id=dup_id)
    assert _check(files, pd.concat([fact, kept], ignore_index=True), q, dim)


def test_files_scd2_version_left_open_fails(files):
    fact, q, dim = _correct_outputs(files)
    closed = dim.index[dim["valid_to"].notna()][0]
    dim.loc[closed, "valid_to"] = pd.NaT
    assert _check(files, fact, q, dim)


def test_files_quarantined_row_let_through_fails(files):
    fact, q, dim = _correct_outputs(files)
    leaked = q.iloc[:1].rename(columns={"store_id": "store", "product_id": "product"})
    assert _check(files, pd.concat([fact, leaked], ignore_index=True), q.iloc[1:], dim)


# --- corpus_dedup --------------------------------------------------------

@pytest.fixture(scope="module")
def corpus():
    return gen.corpus_inputs(seed=7, n_docs=400, n_clusters=30)


def test_corpus_correct_ids_pass(corpus):
    assert checks.check_corpus(corpus, pd.Series(sorted(corpus.kept_ids))) == []


def test_corpus_kept_planted_duplicate_fails(corpus):
    loser = max(corpus.clusters[0])
    assert checks.check_corpus(corpus, pd.Series(sorted(corpus.kept_ids | {loser})))


def test_corpus_dropped_row_fails(corpus):
    assert checks.check_corpus(corpus, pd.Series(sorted(corpus.kept_ids)[1:]))


def test_corpus_copies_clear_threshold_and_strangers_do_not(corpus):
    docs = dict(zip(corpus.docs["doc_id"], corpus.docs["text"]))
    sh = {i: gen._shingles(t.split()) for i, t in docs.items()}
    for c in corpus.clusters:
        assert all(gen.jaccard(sh[c[0]], sh[m]) >= gen.COPY_MIN_JACCARD for m in c[1:])
    singles = sorted(corpus.kept_ids - {min(c) for c in corpus.clusters})[:50]
    assert max(
        gen.jaccard(sh[a], sh[b]) for i, a in enumerate(singles) for b in singles[i + 1:]
    ) < gen.UNRELATED_MAX_JACCARD


def test_generators_repeat_for_a_seed():
    a, b = gen.files_inputs(3, 1000, 200), gen.files_inputs(3, 1000, 200)
    pd.testing.assert_frame_equal(a.sales, b.sales)
    assert np.array_equal(
        gen.corpus_inputs(3, 100, 5).docs["doc_id"], gen.corpus_inputs(3, 100, 5).docs["doc_id"]
    )
