"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes one parquet file per table (TPC-H-ish star schema,
an ``events`` stream and a ``documents`` text table) with the same column
names, types and value domains as the repository's test corpus, so every
corpus query and its DuckDB oracle run unchanged on them. The row counts
scale with ``sf`` (sf=0.1: 600K lineitem rows). The same ``seed`` gives
byte-identical tables.

``doc_shard`` draws one document shard for the corpus-prep workload: a
resample of ``documents`` with injected exact and near duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400_000_000


def _pick(rng: np.random.Generator, values: list, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span, n) * np.timedelta64(_US_PER_DAY, "us")


def _text(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(10, 101, n)
    words = _pick(rng, VOCAB, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return np.asarray([" ".join(w) for w in np.split(words, cuts)], dtype=object)


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All tables as pandas frames; row counts proportional to ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(1_000 * sf), 5)
    n_part = max(int(20_000 * sf), 64)
    n_ord = max(int(1_500_000 * sf), 20)
    n_line = max(int(6_000_000 * sf), 50)
    n_evt = max(int(1_000_000 * sf), 50)
    n_doc = max(int(50_000 * sf), 50)
    n_user = max(int(15_000 * sf), 5)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, _EPOCH_1995, 2400, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(_US_PER_DAY, "us"), 2500, n_line),
        }
    )
    ts_off = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _EPOCH_2024 + ts_off * np.timedelta64(1, "us"),
            "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": _money(rng, 0.01, 500.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    text = _text(rng, n_doc)
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": _pick(rng, LANGS, n_doc),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.fromiter((len(s) for s in text), np.int64, n_doc),
        }
    )
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` per table, one row group each (like the
    repository's test corpus)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(len(df), 1),
        )


def doc_shard(
    documents: pd.DataFrame, n_docs: int, rng: np.random.Generator, id_base: int
) -> pd.DataFrame:
    """``n_docs`` documents resampled from ``documents`` with fresh ids
    starting at ``id_base``; about 5% are exact copies of another shard
    document and about 5% near copies (one word appended, which keeps the
    3-shingle Jaccard above 0.9 for documents of 30+ words)."""
    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_base = n_docs - n_exact - n_near
    base = documents.iloc[rng.choice(len(documents), n_base, replace=False)]
    base_text = base["text"].to_numpy()
    exact = base_text[rng.integers(0, n_base, n_exact)]
    long_enough = np.flatnonzero([len(s.split()) >= 30 for s in base_text])
    near_src = base_text[long_enough[rng.integers(0, len(long_enough), n_near)]]
    near = np.asarray(
        [f"{s} {w}" for s, w in zip(near_src, _pick(rng, VOCAB, n_near))], dtype=object
    )
    text = np.concatenate([base_text, exact, near])
    order = rng.permutation(n_docs)
    return pd.DataFrame(
        {
            "doc_id": np.arange(id_base, id_base + n_docs, dtype=np.int64),
            "text": text[order],
            "lang": np.concatenate(
                [base["lang"].to_numpy(), _pick(rng, LANGS, n_exact + n_near)]
            )[order],
        }
    )
