"""Seeded input generation for the benchmark.

Writes the engine's star schema (the table names, column names and
parquet types the catalog queries read) plus CSV drops for the
conversion workloads. The same seed always gives byte-identical
inputs; the scale of each table is fixed per workload, the seed only
drives values, row order and the uneven split into small files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["widget", "plate", "ring", "rod", "bolt", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.43, 0.15, 0.15, 0.14, 0.13]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Row counts per unit of scale (the TPC-H convention: sf 1 = 6 M lines).
PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def make_tables(
    seed: int, sf: float, n_docs: int, names=TABLES
) -> dict[str, pd.DataFrame]:
    """The named tables at scale ``sf`` (documents/embeddings: ``n_docs``
    rows). Each table draws from its own stream of the seed, so a
    subset is identical to the same tables of the full set."""
    n = {t: max(1, int(round(c * sf))) for t, c in PER_SF.items()}
    return {
        t: _MAKERS[t](np.random.default_rng([seed, TABLES.index(t)]), n, sf, n_docs)
        for t in names
    }


def _region(rng, n, sf, n_docs):
    return pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})


def _nation(rng, n, sf, n_docs):
    return pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )


def _customer(rng, n, sf, n_docs):
    k = np.arange(n["customer"])
    return pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": _names("Customer", k),
            "c_nationkey": rng.integers(0, 25, len(k)).astype("int32"),
            "c_acctbal": _money(rng, len(k), -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, len(k)),
        }
    )


def _supplier(rng, n, sf, n_docs):
    k = np.arange(n["supplier"])
    return pd.DataFrame(
        {
            "s_suppkey": k,
            "s_name": _names("Supplier", k),
            "s_nationkey": rng.integers(0, 25, len(k)).astype("int32"),
            "s_acctbal": _money(rng, len(k), -999.99, 9999.99),
        }
    )


def _part(rng, n, sf, n_docs):
    k = np.arange(n["part"])
    return pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": np.char.add(
                np.char.add(rng.choice(ADJECTIVES, len(k)), " "),
                rng.choice(NOUNS, len(k)),
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(k)).astype(str)),
            "p_type": rng.choice(PART_TYPES, len(k)),
            "p_size": rng.integers(1, 51, len(k)).astype("int32"),
            "p_retailprice": np.round(900 + (k % 1000) / 10, 1),
        }
    )


def _orders(rng, n, sf, n_docs):
    k = np.arange(n["orders"])
    return pd.DataFrame(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], len(k)),
            "o_orderstatus": rng.choice(["F", "O", "P"], len(k)),
            "o_totalprice": _money(rng, len(k), 1000, 500_000),
            "o_orderdate": _days(rng, len(k), "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, len(k)),
        }
    )


def _lineitem(rng, n, sf, n_docs):
    m = n["lineitem"]
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype("int32"),
            "l_quantity": rng.integers(1, 51, m).astype("float64"),
            "l_extendedprice": _money(rng, m, 900, 105_000),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
        }
    )


def _events(rng, n, sf, n_docs):
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, m))
    return pd.DataFrame(
        {
            "event_id": np.arange(m),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), m),
            "event_type": rng.choice(EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m) + 0.01, 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
        }
    )


def _embeddings(rng, n, sf, n_docs):
    x = rng.standard_normal((n_docs, 64)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_docs),
            "embedding": list(x),
            "label": rng.integers(0, 10, n_docs).astype("int32"),
        }
    )


def _documents(rng, n, sf, n_docs):
    """Word-salad documents of 10-100 words; 5% are near-duplicates (a
    copy of another document with the token ``dup`` appended), which
    is what the dedup and mixing operators key on."""
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
        for _ in range(n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_parquet(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )


def write_csv(df: pd.DataFrame, path: str) -> dict:
    """One CSV with a header row; returns the check the conversion gate
    needs: the row count and each column's non-NULL count."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    pacsv.write_csv(
        table, path, write_options=pacsv.WriteOptions(quoting_style="needed")
    )
    return {
        "rows": len(df),
        "non_null": {c: int(df[c].notna().sum()) for c in df.columns},
    }


def split_csvs(
    rng, tables: dict[str, pd.DataFrame], n_files: int, out_dir: str
) -> dict[str, dict]:
    """Shuffle each table's rows and cut them into an uneven number of
    CSV files (more files for bigger tables, Dirichlet-sized pieces).
    The concentration of 4 keeps pieces within a few times of each
    other, so one seed's split does not leave a single file that
    outlasts the rest of a ``convert_all`` pass."""
    os.makedirs(out_dir, exist_ok=True)
    names = sorted(tables)
    size = np.array([len(tables[t]) * len(tables[t].columns) for t in names], float)
    share = np.sqrt(size) / np.sqrt(size).sum()
    counts = np.maximum(1, np.round(share * n_files)).astype(int)
    checks: dict[str, dict] = {}
    for name, k in zip(names, counts):
        df = tables[name]
        k = int(min(k, len(df)))
        order = rng.permutation(len(df))
        cuts = np.cumsum(rng.dirichlet(np.full(k, 4.0)) * len(df)).astype(int)[:-1]
        for i, rows in enumerate(np.split(order, np.clip(cuts, 1, len(df) - 1))):
            if len(rows) == 0:
                continue
            path = os.path.join(out_dir, f"{name}_{i:02d}.csv")
            checks[path] = write_csv(df.iloc[rows], path)
    return checks
