"""Seeded inputs for the benchmark workloads.

Two input sets, both generated from a seed into a directory the
benchmark owns:

* ``write_landing`` -- the six-source landing set of the ETL pipeline.
  The base frames are the package's own source simulators at ``scale``
  times the reference row counts; the seed adds a share of
  exact-duplicate rows and of rows holding a NULL in a non-exempt
  column. Each source is written in its native format (CSV, JSON lines,
  SQLite, spreadsheet CSV export, pipe-delimited flat file, raw web-log
  text). It returns, per source, the row counts the reference cleaning
  rule (``drop_duplicates`` then ``dropna`` with ``email`` exempt) gives
  on the generated frames.
* ``write_tables`` -- the star-schema tables plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read, one
  parquet file each. They follow the project's test corpus: column names
  and types, row counts per scale factor, key ranges, value
  distributions (``l_suppkey`` is drawn independently of ``l_partkey``
  there too) and the near-duplicate rule for documents.
"""

from __future__ import annotations

import os
import sqlite3

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from etl_pipeline_orchestration_spark.sources import simulators

# The six sources' generators and reference row counts; ``scale``
# multiplies each count.
GENERATORS = {
    "sales": (simulators.gen_sales, 1000),
    "customers": (simulators.gen_customers, 800),
    "finance": (simulators.gen_finance, 600),
    "inventory": (simulators.gen_inventory, 400),
    "hr": (simulators.gen_hr, 300),
    "weblogs": (simulators.gen_web_logs, 2000),
}
NULL_EXEMPT = ("email",)

# Columns that may receive an injected NULL: never the key column, and
# only string columns for the two pandas-bridged sources (a NaN in an
# integer column would change its pandas dtype).
NULLABLE = {
    "sales": ["date", "region", "product", "revenue", "units"],
    "customers": ["name", "segment", "tenure_days", "churn_risk"],
    "finance": ["account", "txn_date"],
    "inventory": ["product", "warehouse"],
    "hr": ["department", "join_date", "salary"],
    "weblogs": ["event_type"],
}


def _dirty(
    rng: np.random.Generator, df: pd.DataFrame, cols: list[str], share: float
) -> tuple[pd.DataFrame, int]:
    """Null one column of ``share`` of the rows, then append exact copies
    of another ``share`` of rows. Keys are unique, so the rows the
    cleaning rule removes are exactly the copies plus the nulled rows."""
    n = len(df)
    k = max(1, round(n * share))
    df = df.astype(object)
    nulled = rng.choice(n, k, replace=False)
    for row, col in zip(nulled, rng.choice(cols, k)):
        df.iat[row, df.columns.get_loc(col)] = None
    copies = df.iloc[np.sort(rng.choice(n, k, replace=False))]
    out = pd.concat([df, copies], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True), 2 * k


def expected_counts(df: pd.DataFrame) -> tuple[int, int]:
    """(records_in, records_out) under the reference cleaning rule."""
    subset = [c for c in df.columns if c not in NULL_EXEMPT]
    return len(df), len(df.drop_duplicates().dropna(subset=subset))


def write_landing(
    landing_dir: str, seed: int, scale: int, dirty_share: float
) -> tuple[dict[str, str], dict[str, tuple[int, int]], int]:
    """Write the landing set; returns (paths keyed as the orchestrator's
    ``default_sources`` expects, expected (in, out) per source, number of
    seeded dirty rows)."""
    os.makedirs(landing_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    frames, dirty_rows = {}, 0
    for name, (gen, n) in GENERATORS.items():
        frames[name], k = _dirty(rng, gen(n * scale), NULLABLE[name], dirty_share)
        dirty_rows += k
    expected = {name: expected_counts(df) for name, df in frames.items()}

    p = {
        "sales_csv": os.path.join(landing_dir, "sales.csv"),
        "customers_json": os.path.join(landing_dir, "customers.jsonl"),
        "finance_db": os.path.join(landing_dir, "finance.db"),
        "inventory_excel": os.path.join(landing_dir, "inventory.csv"),
        "hr_flat": os.path.join(landing_dir, "hr.txt"),
        "web_logs": os.path.join(landing_dir, "access.log"),
    }
    frames["sales"].to_csv(p["sales_csv"], index=False)
    frames["customers"].to_json(p["customers_json"], orient="records", lines=True)
    with sqlite3.connect(p["finance_db"]) as conn:
        frames["finance"].to_sql("transactions", conn, if_exists="replace", index=False)
    frames["inventory"].to_csv(p["inventory_excel"], index=False)
    frames["hr"].to_csv(p["hr_flat"], index=False, sep="|")
    w = frames["weblogs"]
    lines = (
        w.event_id + " " + w.user_id + " [" + w.timestamp + '] "'
        + w.event_type.fillna("") + '" ' + w.session_id + " " + w.device
    )
    with open(p["web_logs"], "w") as f:
        f.write("\n".join(lines) + "\n")
    return p, expected, dirty_rows


# -- registry query tables ------------------------------------------------

WORDS = (
    "a the data spark table column row key value hash join merge sort group "
    "agg filter scan window stream batch query order part line customer "
    "vector big small fast slow"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def _ts(days: np.ndarray, start: str) -> np.ndarray:
    return np.datetime64(start, "us") + (days * 86_400_000_000).astype("timedelta64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about 5% are an earlier document with
    " dup" appended (a near-duplicate may itself be copied again, but no
    document twice), and the order is shuffled, as in the test corpus."""
    texts: list[str] = []
    copied: set[int] = set()  # each document is copied at most once
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            while j in copied:
                j = int(rng.integers(0, i))
            copied.add(j)
            texts.append(texts[j] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    texts = [texts[j] for j in rng.permutation(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1]), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    label = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    v = rng.normal(size=(n, dim)) + 0.35 * centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), pa.array(v.ravel(), pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(label, pa.int32()),
        }
    )


def write_tables(data_dir: str, seed: int, sf: float) -> None:
    """Write the query tables at scale factor ``sf`` (lineitem has about
    6M * sf rows)."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": np.char.add(
                    np.char.add(
                        rng.choice(["small", "red", "blue", "hot", "old", "large", "new", "cold"], n_part),
                        " ",
                    ),
                    rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"], n_part),
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000, 500000, n_ord),
                "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": money(900, 105000, n_line),
                "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _ts(rng.integers(1, 2499, n_line), "1995-01-01"),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": np.sort(
                    np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
                ),
                "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
                "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
                "value": np.round(rng.exponential(50, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))

