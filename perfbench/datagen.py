"""Seeded input generation for the benchmark workloads.

The star schema and the documents come from the engine's sf0.1 testdata,
copied under ``perfbench/data/sf0.1``. What the seed varies is made here
with NumPy and written as parquet before timing starts — document shards
with injected duplicates, and the medallion changesets — so the same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_ORDER_SPAN_DAYS = 2403  # 1995-01-01 .. 2001-08-01


def write(df: pd.DataFrame, path: str) -> int:
    """Write one parquet file (single row group); returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # microsecond timestamps: the engine reads NANOS parquet as raw int64
    ts = {c: "datetime64[us]" for c, t in df.dtypes.items() if str(t).startswith("datetime64")}
    table = pa.Table.from_pandas(df.astype(ts), preserve_index=False)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(offsets: np.ndarray) -> np.ndarray:
    return _EPOCH_1995 + offsets.astype("int64") * np.timedelta64(1, "D")


def make_orders(rng, n_orders: int, n_customers: int, key_base: int = 0) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(key_base, key_base + n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_customers, n_orders, dtype="int64"),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng.integers(0, _ORDER_SPAN_DAYS, n_orders)),
            "o_orderpriority": rng.choice(np.array(PRIORITIES), n_orders),
        }
    )


def make_customers(rng, n: int) -> pd.DataFrame:
    keys = np.arange(n, dtype="int64")
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n, dtype="int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(np.array(SEGMENTS), n),
        }
    )


# ---------------------------------------------------------------------------
# Document shards for corpus curation
# ---------------------------------------------------------------------------

NEAR_MIN_WORDS = 40  # a one-word edit keeps 3-shingle Jaccard near 0.85, above 0.8


def corpus_shards(
    docs: pd.DataFrame, out_dir: str, seed: int, n_shards: int, sample: int, bench: int
) -> list[tuple[str, int]]:
    """Write ``n_shards`` shards of the testdata ``documents`` table. Each
    shard samples ``sample`` corpus documents and ``bench`` documents of
    the held-out ``src0`` slice, then appends seeded exact copies and
    one-word edits (near duplicates) of sampled corpus documents; the
    seed sets both rates. Returns [(path, n_docs)]."""
    rng = np.random.default_rng(seed)
    dup_rate = float(rng.uniform(0.04, 0.08))
    near_rate = float(rng.uniform(0.04, 0.08))
    corpus = docs[docs["source"] != "src0"].reset_index(drop=True)
    held_out = docs[docs["source"] == "src0"].reset_index(drop=True)
    words = np.array(sorted({w for t in corpus["text"] for w in t.split(" ")}))
    next_id = int(docs["doc_id"].max()) + 1
    out = []
    for s in range(n_shards):
        base = corpus.iloc[np.sort(rng.choice(len(corpus), sample, replace=False))]
        dups = base.iloc[rng.choice(sample, int(sample * dup_rate), replace=False)].copy()
        long = base[base["text"].str.count(" ") + 1 >= NEAR_MIN_WORDS]
        near = long.iloc[rng.choice(len(long), int(sample * near_rate), replace=False)].copy()
        edited = []
        for text in near["text"]:
            ws = text.split(" ")
            ws[int(rng.integers(1, len(ws) - 1))] = str(rng.choice(words))
            edited.append(" ".join(ws))
        near["text"] = edited
        added = pd.concat([dups, near], ignore_index=True)
        added["doc_id"] = np.arange(next_id, next_id + len(added), dtype="int64")
        added["source"] = [f"src{i}" for i in rng.integers(1, 10, len(added))]
        next_id += len(added)
        bench_rows = held_out.iloc[np.sort(rng.choice(len(held_out), bench, replace=False))]
        df = pd.concat([bench_rows, base, added], ignore_index=True)
        df["n_chars"] = df["text"].str.len().astype("int64")
        path = os.path.join(out_dir, f"shard_{s:02d}", "documents.parquet")
        write(df, path)
        out.append((path, len(df)))
    return out


# ---------------------------------------------------------------------------
# Changesets for the medallion merge loop
# ---------------------------------------------------------------------------


def zipf_keys(rng, n_keys: int, k: int, a: float = 1.2) -> np.ndarray:
    """``k`` distinct keys in [0, n_keys), Zipf-skewed toward a seeded
    permutation of hot keys."""
    perm = rng.permutation(n_keys)
    picked: set[int] = set()
    while len(picked) < k:
        ranks = rng.zipf(a, 2 * k) - 1
        for r in ranks[ranks < n_keys]:
            picked.add(int(perm[r]))
            if len(picked) == k:
                break
    return np.array(sorted(picked), dtype="int64")
