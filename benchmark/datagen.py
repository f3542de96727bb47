"""Synthetic tables in the fixture schema (see TESTDATA.md).

The benchmark never reads fixtures from outside its checkout: it writes
its own copy of the ten tables. Schemas, row counts and value
distributions follow the repo's sf fixtures (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``); benchmark/fixture_compare.py
measures the two side by side, and benchmark/METRICS.md records the
comparison. Rows scale linearly with ``sf`` (lineitem 6M x sf, events
1M x sf); documents and embeddings have the fixtures' floor of 500 rows.

Same (seed, sf) -> byte-identical parquet files. The benchmark always
uses DATA_SEED, so its ``--seed`` changes the op stream, never the data.

    python3 benchmark/datagen.py OUT_DIR SEED SF
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
DIM = 64
N_LABELS = 10
DATA_SEED = 42

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf``."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _strings(prefix: str, keys: np.ndarray, width: int) -> list[str]:
    return [f"{prefix}{k:0{width}d}" for k in keys.tolist()]


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    counts = row_counts(sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nk = np.arange(25)
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": [f"NATION_{k}" for k in nk.tolist()],
            "n_regionkey": pa.array(nk % 5, pa.int32()),
        }
    )

    n_cust = counts["customer"]
    ck = np.arange(n_cust)
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": _strings("Customer#", ck, 9),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )

    n_supp = counts["supplier"]
    sk = np.arange(n_supp)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": _strings("Supplier#", sk, 9),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )

    n_part = counts["part"]
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )

    n_ord = counts["orders"]
    ok = np.arange(n_ord)
    order_days = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )

    # as in the fixtures: lines drawn independently of their order, so
    # (l_orderkey, l_linenumber) is not a key and ship dates ignore
    # order dates
    n_li = counts["lineitem"]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = rng.integers(1, 2500, n_li)  # 1995-01-02 .. 2001-11-04
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995 + ship * _US_PER_DAY),
        }
    )

    n_ev = counts["events"]
    ev_ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)) + _EPOCH_2024
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(
                rng.integers(0, max(1, round(0.015 * n_ev)), n_ev), pa.int64()
            ),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )

    n_doc = counts["documents"]
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for _ in range(n_doc):
        # ~5% near-duplicates: an earlier document plus a marker word
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words.tolist()))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n_emb = counts["embeddings"]
    # unit vectors with no cluster structure; labels independent of them
    vecs = rng.standard_normal((n_emb, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, n_emb)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )

    rows = {}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    import json
    import sys

    out, seed, sf = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    print(json.dumps(generate(out, seed, sf)))
