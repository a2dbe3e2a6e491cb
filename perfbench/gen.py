"""Seeded input generators and their expected outputs.

Every generator is pure numpy/pandas: the same ``seed`` and sizes give
the same rows. Each returns the inputs plus what a correct job must
produce, computed here without the engine (pandas row logic, DuckDB
over the same frames, exact Jaccard) so the checks in ``checks.py``
compare the engine against an independent computation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# jdbc_migrate: an Oracle-style ORDERS table migrated to a Postgres-style
# target (here both sides are embedded Derby).

EMAIL_PATTERN = r"[a-z0-9.]+@[a-z0-9]+\.com"
AMOUNT_RANGE = (0.0, 10000.0)
REGION_COUNT = 25
_FIRST = ["ann", "Bob", "cHarlie", "dora", "Eve", "frank", "gIna", "hal"]
_STATUS = np.array(["open", " Shipped", "delivered ", "CANCELLED"])


@dataclass
class JdbcInputs:
    orders: pd.DataFrame  # source table ORDERS_SRC (uppercase columns)
    regions: pd.DataFrame  # dimension DIM_REGION
    expected: pd.DataFrame  # target rows the declared mapping must load


def jdbc_inputs(seed: int, n_rows: int) -> JdbcInputs:
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    ids = np.arange(1, n + 1, dtype=np.int64)
    first = np.array(_FIRST)[rng.integers(0, len(_FIRST), n)]
    num = rng.integers(0, 1000, n)
    names = [f"  {a} {b:03d} " for a, b in zip(first, num)]
    region = rng.integers(1, REGION_COUNT + 1, n).astype(np.int32)
    orphan = rng.random(n) < 0.01
    region[orphan] = 900 + rng.integers(0, 50, int(orphan.sum()))
    day = rng.integers(0, 366, n)
    base = np.datetime64("2024-01-01")
    dates = np.datetime_as_string(base + day.astype("timedelta64[D]"), unit="D")
    dates = dates.astype(object)
    dates[rng.random(n) < 0.005] = "n/a"
    mail = rng.integers(0, 40, n)
    bad_mail = rng.random(n) < 0.01
    emails = [
        f"user{i}.mail{m}.com" if b else f"user{i}@mail{m}.com"
        for i, m, b in zip(ids, mail, bad_mail)
    ]
    amount = np.round(rng.uniform(0, 9000, n), 2)
    big = rng.random(n) < 0.01
    amount[big] = np.round(10000.5 + rng.uniform(0, 5000, int(big.sum())), 2)
    status = _STATUS[rng.choice(4, n, p=[0.4, 0.3, 0.27, 0.03])]
    orders = pd.DataFrame(
        {
            "ORDER_ID": ids,
            "CUST_NAME": names,
            "REGION_ID": region,
            "ORDER_DATE": dates,
            "EMAIL": emails,
            "AMOUNT": amount,
            "STATUS": status,
        }
    )
    regions = pd.DataFrame(
        {
            "REGION_ID": np.arange(1, REGION_COUNT + 1, dtype=np.int32),
            "REGION_NAME": [f"Region {i:02d}" for i in range(1, REGION_COUNT + 1)],
        }
    )
    return JdbcInputs(orders, regions, expected_jdbc(orders, regions))


def expected_jdbc(orders: pd.DataFrame, regions: pd.DataFrame) -> pd.DataFrame:
    """The declared mapping (``workloads.JDBC_TABLE``) applied row by row
    in pandas."""
    src = orders[orders["STATUS"] != "CANCELLED"]
    names = dict(zip(regions["REGION_ID"], regions["REGION_NAME"]))
    email_ok = re.compile(EMAIL_PATTERN)
    lo, hi = AMOUNT_RANGE
    dates = pd.to_datetime(src["ORDER_DATE"], format="%Y-%m-%d", errors="coerce")
    return pd.DataFrame(
        {
            "order_id": src["ORDER_ID"].to_numpy(),
            "customer": src["CUST_NAME"].str.strip(" ").str.upper().to_numpy(),
            "region": [names.get(r, "UNKNOWN") for r in src["REGION_ID"]],
            "order_date": [None if pd.isna(d) else d.date() for d in dates],
            "email": [e if email_ok.match(e) else None for e in src["EMAIL"]],
            "amount": np.where(
                (src["AMOUNT"] >= lo) & (src["AMOUNT"] <= hi), src["AMOUNT"], -1.0
            ),
            "status": src["STATUS"].str.strip(" ").str.upper().to_numpy(),
        }
    )


# --------------------------------------------------------------------------
# files_nightly: a fact load with lookups, quarantine and exact dedup, and
# an SCD2 night-2 merge of a customer dimension.

CHANNELS = ("WEB", "STORE", "PHONE")
PRICE_RANGE = (0.0, 5000.0)
NIGHT1 = "2024-06-01 00:00:00"
NIGHT2 = "2024-06-02 00:00:00"
STORE_COUNT = 150
PRODUCT_COUNT = 1500
_CHANNEL_RAW = np.array(["web", " Store", "PHONE ", "Web"])
_CITIES = np.array(["Oslo", "Lima", "Pune", "Kyiv", "Cork", "Doha", "Nice", "Bern"])
_SEGMENTS = np.array(["retail", "smb", "enterprise", "public"])


@dataclass
class FilesInputs:
    sales: pd.DataFrame
    stores: pd.DataFrame
    products: pd.DataFrame
    cust_night1: pd.DataFrame  # yesterday's SCD2 target (all versions open)
    cust_night2: pd.DataFrame  # tonight's full customer snapshot
    where_pass: int  # sales rows with qty > 0
    invalid_ids: set = field(default_factory=set)  # planted quarantine rows
    orphans: int = 0  # planted lookup misses (store + product)
    dup_ids: set = field(default_factory=set)  # planted exact copies
    changed_keys: set = field(default_factory=set)
    new_keys: set = field(default_factory=set)


def files_inputs(seed: int, n_sales: int, n_customers: int) -> FilesInputs:
    rng = np.random.default_rng([seed, 2])
    n_dup = n_sales // 100
    n = n_sales - n_dup
    sale_id = rng.permutation(n).astype(np.int64) + 1
    i = np.arange(n)
    sales = pd.DataFrame(
        {
            "sale_id": sale_id,
            "order_no": (i // 4 + 100000).astype(np.int64),
            "line_no": (i % 4).astype(np.int32),
            "store_id": rng.integers(1, STORE_COUNT + 1, n).astype(np.int32),
            "product_id": rng.integers(1, PRODUCT_COUNT + 1, n).astype(np.int32),
            "sale_date": np.datetime_as_string(
                np.datetime64("2024-06-01") + rng.integers(0, 8, n).astype("timedelta64[D]"),
                unit="D",
            ).astype(object),
            "qty": rng.integers(1, 11, n).astype(np.int32),
            "unit_price": np.round(rng.uniform(1, 500, n), 2),
            "channel": _CHANNEL_RAW[rng.integers(0, 4, n)],
        }
    )
    # disjoint planted row sets, so each expected count is exact
    order = rng.permutation(n)
    k = n // 200
    cancelled, bad_channel, bad_price, orphan_store, orphan_product, dup_src = (
        order[j * k:(j + 1) * k] for j in range(6)
    )
    sales.loc[cancelled, "qty"] = 0
    sales.loc[bad_channel, "channel"] = "fax"
    sales.loc[bad_price, "unit_price"] = 99999.0
    sales.loc[orphan_store, "store_id"] = (9000 + rng.integers(0, 50, k)).astype(np.int32)
    sales.loc[orphan_product, "product_id"] = (90000 + rng.integers(0, 50, k)).astype(np.int32)
    copies = sales.loc[rng.choice(dup_src, n_dup, replace=n_dup > k)].copy()
    # copies get ids above every original: the min-id survivor is the original
    copies["sale_id"] = np.arange(n + 1, n + n_dup + 1, dtype=np.int64)
    sales = pd.concat([sales, copies], ignore_index=True)
    sales = sales.iloc[rng.permutation(len(sales))].reset_index(drop=True)

    stores = pd.DataFrame(
        {
            "store_id": np.arange(1, STORE_COUNT + 1, dtype=np.int32),
            "store_name": [f"Store {s:03d}" for s in range(1, STORE_COUNT + 1)],
        }
    )
    products = pd.DataFrame(
        {
            "product_id": np.arange(1, PRODUCT_COUNT + 1, dtype=np.int32),
            "product_name": [f"P-{p:04d}" for p in range(1, PRODUCT_COUNT + 1)],
        }
    )

    m = n_customers
    keys = np.arange(1, m + 1, dtype=np.int64)
    night1 = pd.DataFrame(
        {
            "cust_id": keys,
            "name": [f"Customer {c}" for c in keys],
            "city": _CITIES[rng.integers(0, len(_CITIES), m)],
            "segment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), m)],
        }
    )
    night2 = night1.copy()
    changed = rng.choice(m, m // 10, replace=False)
    # a changed city always differs from yesterday's
    shift = rng.integers(1, len(_CITIES), len(changed))
    old = pd.Series(night1["city"].to_numpy()[changed])
    pos = old.map({c: j for j, c in enumerate(_CITIES)}).to_numpy()
    night2.loc[changed, "city"] = _CITIES[(pos + shift) % len(_CITIES)]
    n_new = m // 20
    new_keys = np.arange(m + 1, m + n_new + 1, dtype=np.int64)
    night2 = pd.concat(
        [
            night2,
            pd.DataFrame(
                {
                    "cust_id": new_keys,
                    "name": [f"Customer {c}" for c in new_keys],
                    "city": _CITIES[rng.integers(0, len(_CITIES), n_new)],
                    "segment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n_new)],
                }
            ),
        ],
        ignore_index=True,
    )
    night2 = night2.iloc[rng.permutation(len(night2))].reset_index(drop=True)
    night1 = night1.assign(
        valid_from=pd.Timestamp(NIGHT1, tz="UTC"),
        valid_to=pd.Series(pd.NaT, index=night1.index, dtype="datetime64[us, UTC]"),
    )
    night1["valid_from"] = night1["valid_from"].astype("datetime64[us, UTC]")

    def ids_of(rows) -> set:
        """Ids of rows given by their position before the shuffle."""
        return {int(x) for x in sale_id[rows]}

    return FilesInputs(
        sales=sales,
        stores=stores,
        products=products,
        cust_night1=night1,
        cust_night2=night2,
        where_pass=int((sales["qty"] > 0).sum()),
        invalid_ids=ids_of(bad_channel) | ids_of(bad_price),
        orphans=2 * k,
        dup_ids=set(int(x) for x in copies["sale_id"]),
        changed_keys=set(int(x) for x in keys[changed]),
        new_keys=set(int(x) for x in new_keys),
    )


def files_revenue(inputs: FilesInputs) -> dict[str, dict[str, float]]:
    """Per-store and per-product revenue of the rows a correct fact load
    keeps, computed by DuckDB over the input frames."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("sales", inputs.sales)
        con.register("stores", inputs.stores)
        con.register("products", inputs.products)
        lo, hi = PRICE_RANGE
        chans = ", ".join(f"'{c}'" for c in CHANNELS)
        con.execute(
            f"""
            CREATE TEMP TABLE kept AS
            SELECT coalesce(st.store_name, 'UNKNOWN') AS store,
                   coalesce(pr.product_name, 'UNKNOWN') AS product,
                   s.qty * s.unit_price AS revenue
            FROM sales s
            LEFT JOIN stores st USING (store_id)
            LEFT JOIN products pr USING (product_id)
            WHERE s.qty > 0
              AND upper(trim(s.channel)) IN ({chans})
              AND s.unit_price BETWEEN {lo} AND {hi}
            QUALIFY row_number() OVER (
                PARTITION BY s.order_no, s.line_no ORDER BY s.sale_id) = 1
            """
        )
        return {
            dim: dict(
                con.execute(
                    f"SELECT {dim}, sum(revenue) FROM kept GROUP BY {dim}"
                ).fetchall()
            )
            for dim in ("store", "product")
        }
    finally:
        con.close()


# --------------------------------------------------------------------------
# corpus_dedup: documents with planted near-duplicate clusters.

SHINGLE_N = 3
THRESHOLD = 0.8
# every planted copy must clear the threshold with margin, so a banded
# LSH miss (64 hashes, 16 bands: P(miss | J=0.9) ≈ 1e-9) cannot occur
COPY_MIN_JACCARD = 0.9
UNRELATED_MAX_JACCARD = 0.3


@dataclass
class CorpusInputs:
    docs: pd.DataFrame  # doc_id, text
    kept_ids: set  # min id of every planted cluster + every singleton
    clusters: list  # lists of doc ids, one per planted cluster


def _shingles(words: list[str]) -> set:
    if len(words) < SHINGLE_N:
        return {" ".join(words)}
    return {" ".join(words[i:i + SHINGLE_N]) for i in range(len(words) - SHINGLE_N + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def corpus_inputs(seed: int, n_docs: int, n_clusters: int) -> CorpusInputs:
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted(
        {"".join(letters[rng.integers(0, 26, rng.integers(4, 9))]) for _ in range(30000)}
    )
    vocab = np.array(vocab)
    texts: list[list[str]] = []
    groups: list[list[int]] = []  # row positions per planted cluster
    sizes = rng.integers(2, 6, n_clusters)
    if sizes.sum() > n_docs:
        raise ValueError("more clustered documents than documents")
    for size in sizes:
        base = list(vocab[rng.integers(0, len(vocab), rng.integers(90, 120))])
        members = [len(texts)]
        texts.append(base)
        for _ in range(size - 1):
            copy = list(base)
            copy[rng.integers(0, len(copy))] = vocab[rng.integers(0, len(vocab))]
            members.append(len(texts))
            texts.append(copy)
        groups.append(members)
    while len(texts) < n_docs:
        texts.append(list(vocab[rng.integers(0, len(vocab), rng.integers(90, 120))]))
    ids = rng.permutation(len(texts)).astype(np.int64) + 1

    shingles = [_shingles(t) for t in texts]
    group_of = {p: g for g, members in enumerate(groups) for p in members}
    for members in groups:
        for p in members[1:]:
            j = jaccard(shingles[members[0]], shingles[p])
            if j < COPY_MIN_JACCARD:
                raise ValueError(f"planted copy only {j:.3f} Jaccard to its base")
    # unrelated documents: every pair that shares any shingle must stay far
    # below the threshold (pairs sharing none have Jaccard 0)
    postings: dict[str, list[int]] = {}
    for p, sh in enumerate(shingles):
        for s in sh:
            postings.setdefault(s, []).append(p)
    seen = set()
    for plist in postings.values():
        for x in range(len(plist)):
            for y in range(x + 1, len(plist)):
                a, b = plist[x], plist[y]
                if group_of.get(a, -1 - a) == group_of.get(b, -1 - b) or (a, b) in seen:
                    continue
                seen.add((a, b))
                j = jaccard(shingles[a], shingles[b])
                if j >= UNRELATED_MAX_JACCARD:
                    raise ValueError(f"unrelated documents at {j:.3f} Jaccard")

    clusters = [[int(ids[p]) for p in members] for members in groups]
    clustered = {p for members in groups for p in members}
    kept = {min(c) for c in clusters} | {
        int(ids[p]) for p in range(len(texts)) if p not in clustered
    }
    docs = pd.DataFrame({"doc_id": ids, "text": [" ".join(t) for t in texts]})
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    return CorpusInputs(docs, kept, clusters)

