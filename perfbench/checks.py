"""Output checks. Each takes what ``gen`` says a correct job produces
and what the job wrote (read back without the engine) and returns a
list of failures; an empty list means the output is correct."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from gen import CorpusInputs, FilesInputs

JDBC_COLUMNS = ["order_id", "customer", "region", "order_date", "email", "amount", "status"]


def _text(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "\\N"
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return v.date().isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.4f}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def canonical_rows(df: pd.DataFrame) -> pd.Series:
    """One text line per row over ``JDBC_COLUMNS``, type-normalised so a
    Derby read-back and a pandas expectation compare equal."""
    df = df.rename(columns=str.lower)
    missing = [c for c in JDBC_COLUMNS if c not in df.columns]
    if missing:
        raise KeyError(f"columns {missing} missing from {list(df.columns)}")
    cols = [df[c].astype(object).map(_text) for c in JDBC_COLUMNS]
    out = cols[0]
    for c in cols[1:]:
        out = out + "\x1f" + c
    return out.reset_index(drop=True)


def table_hash(rows: pd.Series) -> int:
    """Order-insensitive 64-bit hash of a set of canonical rows."""
    h = pd.util.hash_pandas_object(rows, index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64))


def check_jdbc(expected: pd.DataFrame, actual: pd.DataFrame) -> list[str]:
    errors = []
    if len(actual) != len(expected):
        errors.append(f"target has {len(actual)} rows, expected {len(expected)}")
    exp, act = canonical_rows(expected), canonical_rows(actual)
    if table_hash(exp) != table_hash(act):
        extra = sorted(set(act) - set(exp))[:3]
        lost = sorted(set(exp) - set(act))[:3]
        errors.append(f"target hash differs; unexpected rows {extra}, missing rows {lost}")
    return errors


def check_files_nightly(
    inp: FilesInputs,
    revenue: dict[str, dict[str, float]],
    fact: pd.DataFrame,
    quarantine: pd.DataFrame,
    dim: pd.DataFrame,
) -> list[str]:
    errors = []
    # fact table: conservation, quarantine, lookups, dedup, revenue
    removed = len(inp.dup_ids)
    if len(fact) + len(quarantine) + removed != inp.where_pass:
        errors.append(
            f"conservation: {len(fact)} clean + {len(quarantine)} quarantined + "
            f"{removed} duplicates != {inp.where_pass} rows passing where"
        )
    q_ids = set(int(x) for x in quarantine["sale_id"])
    if q_ids != inp.invalid_ids:
        errors.append(
            f"quarantined ids differ from planted invalid ids: "
            f"{len(q_ids - inp.invalid_ids)} extra, {len(inp.invalid_ids - q_ids)} missing"
        )
    defaults = int((fact["store"] == "UNKNOWN").sum() + (fact["product"] == "UNKNOWN").sum())
    if defaults != inp.orphans:
        errors.append(f"{defaults} lookup defaults, planted {inp.orphans} orphan keys")
    kept_dups = set(int(x) for x in fact["sale_id"]) & inp.dup_ids
    if kept_dups or fact.duplicated(["order_no", "line_no"]).any():
        errors.append(f"planted duplicates kept: {sorted(kept_dups)[:5]}")
    rev = fact.assign(revenue=fact["qty"] * fact["unit_price"])
    for dim_col, want in revenue.items():
        got = rev.groupby(dim_col)["revenue"].sum().to_dict()
        bad = [
            k for k in set(want) | set(got)
            if abs(got.get(k, 0.0) - want.get(k, 0.0)) > 1e-6 * max(1.0, abs(want.get(k, 0.0)))
        ]
        if bad:
            errors.append(f"revenue by {dim_col} differs for {sorted(bad)[:5]}")

    # SCD2 dimension after the night-2 merge
    open_ = dim[dim["valid_to"].isna()]
    closed = dim[dim["valid_to"].notna()]
    n1 = len(inp.cust_night1)
    per_key = open_["cust_id"].value_counts()
    all_keys = set(int(x) for x in inp.cust_night1["cust_id"]) | inp.new_keys
    if (per_key != 1).any() or set(int(x) for x in per_key.index) != all_keys:
        errors.append(
            f"open versions: {int((per_key > 1).sum())} keys with several, "
            f"{len(all_keys - set(int(x) for x in per_key.index))} keys with none"
        )
    closed_keys = [int(x) for x in closed["cust_id"]]
    if len(closed_keys) != len(inp.changed_keys) or set(closed_keys) != inp.changed_keys:
        errors.append(
            f"{len(closed_keys)} closed versions, planted {len(inp.changed_keys)} changed keys"
        )
    want_total = n1 + len(inp.changed_keys) + len(inp.new_keys)
    if len(dim) != want_total:
        errors.append(f"{len(dim)} versions, expected {want_total}")
    if not (closed["valid_from"] < closed["valid_to"]).all():
        errors.append("a closed version has valid_from >= valid_to")
    tonight = inp.cust_night2.set_index("cust_id")["city"]
    cities = open_.drop_duplicates("cust_id").set_index("cust_id")["city"]
    if not cities.reindex(tonight.index).equals(tonight):
        errors.append("open versions do not carry tonight's attributes")
    return errors


def check_corpus(inp: CorpusInputs, kept: pd.Series) -> list[str]:
    ids = [int(x) for x in kept]
    errors = []
    if len(ids) != len(set(ids)):
        errors.append(f"{len(ids) - len(set(ids))} document ids written twice")
    got = set(ids)
    if got != inp.kept_ids:
        dup_kept = got - inp.kept_ids
        lost = inp.kept_ids - got
        errors.append(
            f"kept ids differ: {len(dup_kept)} planted duplicates kept "
            f"{sorted(dup_kept)[:5]}, {len(lost)} survivors dropped {sorted(lost)[:5]}"
        )
    return errors
