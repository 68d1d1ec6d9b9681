"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files. The engine only ever sees the data files;
``manifest.json`` beside them records, per input, its row count and
on-disk bytes (so "fits in memory" and "several times larger" are
stated, not assumed) plus the planted ground truth the oracle needs.

    python3 perfbench/gen.py --workload scan_analytics --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("interactive_sql", "scan_analytics", "curation_ingest")

# interactive_sql: one small CSV fact table plus a CSV dimension to join
SALES_ROWS = 20_000
CUSTOMER_ROWS = 1_000
REGIONS = ["north", "south", "east", "west", "central"]
SEGMENTS = ["retail", "wholesale", "online", "partner", "public"]

# scan_analytics: TPC-H-shaped star schema, fact split across files so
# every core gets scan tasks
LINEITEM_ROWS = 240_000
LINEITEM_FILES = 8
ORDERS_FILES = 4
CUSTOMER_FILES = 2
SCAN_CUSTOMERS = 7_500
SUPPLIERS = 1_000
NATIONS = 25
REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAYS = 2_400

# curation_ingest: NDJSON documents with planted duplicates, parquet
# embeddings and a query batch
ORIGINAL_DOCS = 1_600
EXACT_COPIES = 160
NEAR_COPIES = 160
CURATION_FILES = 4
#: one tenth of the documents and vectors, for the untimed warm-up pass
PRIME_SHARE = 10
VOCAB = 5_000
DOC_WORDS = (40, 80)
SOURCES = ["web", "books", "code", "news"]
VECTORS = 2_000
DIM = 32
QUERIES = 8
SHINGLE = 3


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def _bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def _write_parquet_dir(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _interactive(rng: np.random.Generator, out: str) -> dict:
    n = SALES_ROWS
    sales = pd.DataFrame(
        {
            "s_id": np.arange(n, dtype=np.int64),
            "s_cust": rng.integers(0, CUSTOMER_ROWS, n),
            "s_region": np.array(REGIONS)[rng.integers(0, len(REGIONS), n)],
            "s_cat": rng.integers(0, 20, n),
            "s_price": np.round(rng.uniform(1, 500, n), 2),
            "s_qty": rng.integers(1, 51, n),
            "s_disc": np.round(rng.integers(0, 11, n) / 100, 2),
            "s_day": rng.integers(0, 365, n),
        }
    )
    customers = pd.DataFrame(
        {
            "c_id": np.arange(CUSTOMER_ROWS, dtype=np.int64),
            "c_segment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), CUSTOMER_ROWS)],
            "c_credit": np.round(rng.uniform(0, 10_000, CUSTOMER_ROWS), 2),
        }
    )
    tables = {}
    for name, df in (("sales", sales), ("customers", customers)):
        path = os.path.join(out, f"{name}.csv")
        df.to_csv(path, index=False)
        tables[name] = {"path": path, "rows": len(df), "bytes": _bytes(path)}
    return {"tables": tables}


def _scan(rng: np.random.Generator, out: str) -> dict:
    n_line = LINEITEM_ROWS
    n_ord = n_line // 4
    orderkey = np.sort(rng.integers(0, n_ord, n_line))
    lineitem = pa.table(
        {
            "l_orderkey": orderkey.astype(np.int64),
            "l_suppkey": rng.integers(0, SUPPLIERS, n_line).astype(np.int64),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": rng.integers(0, DAYS, n_line).astype(np.int64),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, SCAN_CUSTOMERS, n_ord).astype(np.int64),
            "o_orderdate": rng.integers(0, DAYS, n_ord).astype(np.int64),
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_ord)],
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(SCAN_CUSTOMERS, dtype=np.int64),
            "c_nationkey": rng.integers(0, NATIONS, SCAN_CUSTOMERS).astype(np.int64),
            "c_mktsegment": np.array(MKT_SEGMENTS)[rng.integers(0, len(MKT_SEGMENTS), SCAN_CUSTOMERS)],
            "c_acctbal": np.round(rng.uniform(-1_000, 10_000, SCAN_CUSTOMERS), 2),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
            "s_nationkey": rng.integers(0, NATIONS, SUPPLIERS).astype(np.int64),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(NATIONS, dtype=np.int64),
            "n_name": [f"NATION{i:02d}" for i in range(NATIONS)],
            "n_regionkey": (np.arange(NATIONS) % len(REGION_NAMES)).astype(np.int64),
        }
    )
    region = pa.table(
        {"r_regionkey": np.arange(len(REGION_NAMES), dtype=np.int64), "r_name": REGION_NAMES}
    )
    tables = {}
    for name, table, files in (
        ("lineitem", lineitem, LINEITEM_FILES),
        ("orders", orders, ORDERS_FILES),
        ("customer", customer, CUSTOMER_FILES),
        ("supplier", supplier, 1),
        ("nation", nation, 1),
        ("region", region, 1),
    ):
        path = os.path.join(out, f"{name}.parquet")
        _write_parquet_dir(table, path, files)
        tables[name] = {"path": path, "rows": table.num_rows, "bytes": _bytes(path), "files": files}
    return {"tables": tables}


def shingles(text: str) -> set[str]:
    """Distinct word 3-gram shingles, the engine's MinHash shingle rule
    for already-normalized text."""
    words = text.split(" ")
    return {" ".join(words[i : i + SHINGLE]) for i in range(len(words) - SHINGLE + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _curation(rng: np.random.Generator, out: str) -> dict:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted(
        {"".join(letters[rng.integers(0, 26, rng.integers(3, 9))]) for _ in range(VOCAB * 2)}
    )[:VOCAB]
    vocab = np.array(vocab)
    texts = []
    for _ in range(ORIGINAL_DOCS):
        texts.append(" ".join(vocab[rng.integers(0, VOCAB, rng.integers(*DOC_WORDS))]))
    docs = [
        {"doc_id": i, "source": SOURCES[int(rng.integers(0, len(SOURCES)))], "text": t}
        for i, t in enumerate(texts)
    ]
    exact_ids, near_ids, near_jaccard = [], [], []
    for src in rng.choice(ORIGINAL_DOCS, EXACT_COPIES, replace=False):
        exact_ids.append(len(docs))
        docs.append({"doc_id": len(docs), "source": docs[src]["source"], "text": texts[src]})
    for src in rng.choice(ORIGINAL_DOCS, NEAR_COPIES, replace=False):
        # one word replaced away from the ends: three shingles change,
        # so Jaccard stays >= 34/40 for the shortest documents
        words = texts[src].split(" ")
        pos = int(rng.integers(SHINGLE, len(words) - SHINGLE))
        words[pos] = str(vocab[(np.searchsorted(vocab, words[pos]) + 1) % VOCAB])
        text = " ".join(words)
        near_ids.append(len(docs))
        near_jaccard.append(jaccard(texts[src], text))
        docs.append({"doc_id": len(docs), "source": docs[src]["source"], "text": text})
    order = rng.permutation(len(docs))
    docs_path = os.path.join(out, "docs.ndjson")
    prime_docs_path = os.path.join(out, "prime_docs.ndjson")
    for path, files, rows in (
        (docs_path, CURATION_FILES, order),
        (prime_docs_path, 1, order[: len(order) // PRIME_SHARE]),
    ):
        os.makedirs(path)
        for part in range(files):
            with open(os.path.join(path, f"part-{part:03d}.ndjson"), "w") as f:
                for i in rows[part::files]:
                    f.write(json.dumps(docs[i], separators=(",", ":")) + "\n")

    emb = rng.standard_normal((VECTORS, DIM))
    # half the queries are perturbed corpus vectors, so top-1 is a
    # meaningful neighbour; ids sit outside the corpus id range
    base = emb[rng.choice(VECTORS, QUERIES // 2, replace=False)]
    qvec = np.vstack(
        [base + 0.05 * rng.standard_normal(base.shape), rng.standard_normal((QUERIES - len(base), DIM))]
    )
    emb_path = os.path.join(out, "embeddings.parquet")
    q_path = os.path.join(out, "queries.parquet")
    prime_emb_path = os.path.join(out, "prime_embeddings.parquet")
    emb_table = pa.table({"vec_id": np.arange(VECTORS, dtype=np.int64), "embedding": list(emb)})
    _write_parquet_dir(emb_table, emb_path, CURATION_FILES)
    _write_parquet_dir(emb_table.slice(0, VECTORS // PRIME_SHARE), prime_emb_path, 1)
    pq.write_table(
        pa.table(
            {"vec_id": np.arange(1_000_000, 1_000_000 + QUERIES, dtype=np.int64), "embedding": list(qvec)}
        ),
        q_path,
    )
    tables = {
        "docs": {"path": docs_path, "rows": len(docs), "bytes": _bytes(docs_path)},
        "embeddings": {"path": emb_path, "rows": VECTORS, "bytes": _bytes(emb_path)},
        "queries": {"path": q_path, "rows": QUERIES, "bytes": _bytes(q_path)},
        "prime_docs": {"path": prime_docs_path, "rows": len(order) // PRIME_SHARE, "bytes": _bytes(prime_docs_path)},
        "prime_embeddings": {
            "path": prime_emb_path,
            "rows": VECTORS // PRIME_SHARE,
            "bytes": _bytes(prime_emb_path),
        },
    }
    truth = {
        "distinct_texts": ORIGINAL_DOCS + NEAR_COPIES,
        "exact_dup_ids": sorted(exact_ids),
        "near_dup_ids": sorted(near_ids),
        "min_near_jaccard": min(near_jaccard),
    }
    return {"tables": tables, "truth": truth}


_GENERATORS = {
    "interactive_sql": _interactive,
    "scan_analytics": _scan,
    "curation_ingest": _curation,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return the manifest (also written to ``out/manifest.json``)."""
    os.makedirs(out, exist_ok=True)
    manifest = {"workload": workload, "seed": seed}
    manifest.update(_GENERATORS[workload](_rng(workload, seed), out))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    m = generate(args.workload, args.seed, args.out)
    for name, t in m["tables"].items():
        print(f"{name}: {t['rows']} rows, {t['bytes']} bytes")


if __name__ == "__main__":
    main()
