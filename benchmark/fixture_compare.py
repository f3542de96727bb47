"""Compare the benchmark's generated tables with a fixture directory.

    python3 benchmark/fixture_compare.py GENERATED_DIR FIXTURE_DIR

Prints one markdown row per column (parquet type, rows, distinct values,
min, max, mean in each directory) and one per derived property the
workloads depend on (duplicate documents, lines per order, composite
key repeats, cluster structure of the embeddings). The two directories
should be at the same scale factor.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _num(x) -> str:
    if isinstance(x, float):
        return f"{x:.4g}"
    return str(x)


def column_profile(path: str) -> dict[str, tuple]:
    table = pq.read_table(path)
    df = table.to_pandas()
    out = {}
    for field in table.schema:
        col = df[field.name]
        if field.name == "embedding":
            out[field.name] = (str(field.type), len(col), len(col), "", "", "")
            continue
        lo = hi = mean = ""
        if col.dtype.kind in "iufM":
            lo, hi = col.min(), col.max()
            if col.dtype.kind in "iuf":
                mean = float(col.mean())
        out[field.name] = (str(field.type), len(col), col.nunique(), lo, hi, mean)
    return out


def derived(d: str) -> dict[str, float]:
    docs = pq.read_table(f"{d}/documents.parquet").to_pandas()
    norm = docs.text.map(lambda t: " ".join(w for w in t.split() if w != "dup"))
    words = docs.text.str.split()
    li = pq.read_table(f"{d}/lineitem.parquet", columns=["l_orderkey", "l_linenumber"]).to_pandas()
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    vecs = np.stack(emb.embedding.values)
    means = [vecs[emb.label.values == k].mean(0) for k in np.unique(emb.label.values)]
    events = pq.read_table(f"{d}/events.parquet", columns=["user_id"]).to_pandas()
    return {
        "documents: near-duplicate share (equal text once 'dup' is dropped)": 1 - norm.nunique() / len(norm),
        "documents: words per doc, mean": float(words.str.len().mean()),
        "documents: vocabulary size": len({w for ws in words for w in ws}),
        "lineitem: lines per order, mean": float(li.groupby("l_orderkey").size().mean()),
        "lineitem: repeated (l_orderkey, l_linenumber) share": float(
            li.duplicated(["l_orderkey", "l_linenumber"]).mean()
        ),
        "events: events per user, mean": float(events.groupby("user_id").size().mean()),
        "embeddings: mean norm of per-label centroids": float(np.mean([np.linalg.norm(m) for m in means])),
    }


def main(gen: str, fix: str) -> None:
    print("| column | type (gen / fixture) | rows | distinct | min | max | mean |")
    print("|---|---|---|---|---|---|---|")
    for t in TABLES:
        a = column_profile(f"{gen}/{t}.parquet")
        b = column_profile(f"{fix}/{t}.parquet")
        for col in b:
            ga, fb = a.get(col, ("missing",) * 6), b[col]
            typ = ga[0] if ga[0] == fb[0] else f"{ga[0]} / {fb[0]}"
            cells = [" / ".join((_num(x), _num(y))) for x, y in zip(ga[1:], fb[1:])]
            print(f"| {t}.{col} | {typ} | " + " | ".join(cells) + " |")
    print()
    print("| derived | generated | fixture |")
    print("|---|---|---|")
    da, db = derived(gen), derived(fix)
    for k in db:
        print(f"| {k} | {_num(da[k])} | {_num(db[k])} |")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
