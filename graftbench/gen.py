"""Seeded input generator for the benchmark workloads.

Every function takes the seed and an output directory and writes only
there.  The same seed gives byte-identical files (parquet written from
Arrow arrays with one row group and no pandas metadata; text written as
bytes).  Sizes and key skew do not depend on the seed: row counts and
text byte counts are fixed per workload, and the vocabularies and their
Zipf weights are built from a constant, so a second seed changes only
which rows and tokens are drawn.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB_SEED = 20240917  # fixed: vocabularies (and so key skew) ignore --seed
_EPOCH = np.datetime64("1995-01-01", "D")
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def vocabulary(n_words: int) -> list[str]:
    """``n_words`` distinct lowercase words, the same on every call."""
    rng = np.random.default_rng(_VOCAB_SEED)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        length = int(rng.integers(2, 11))
        w = _LETTERS[rng.integers(0, 26, size=length)].tobytes().decode()
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    d = _EPOCH + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _star_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema: lineitem has 4 rows per order."""
    n_cust, n_supp, n_part = max(n_orders // 10, 5), max(n_orders // 150, 5), max(
        n_orders // 8, 5
    )
    n_line = 4 * n_orders
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "cold"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                noun[rng.integers(0, 7, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, n_orders, 2405),
            "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, 2500),
        }
    )
    return t


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    secs = np.sort(rng.integers(0, 86400 * 7, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1_000_000).astype(
        "timedelta64[us]"
    )
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1000, n), pa.int64()),
            "event_type": kinds[rng.integers(0, 5, n)],
            "value": _money(rng, 0.0, 200.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(
    rng: np.random.Generator, n_docs: int, dup_share: float
) -> pa.Table:
    """Zipf-worded documents; the last ``dup_share`` of them are near
    duplicates (about 5% of tokens replaced) of distinct earlier
    documents, so near-duplicate clusters are mostly pairs."""
    vocab = np.array(vocabulary(5000))
    p = zipf_weights(len(vocab), 0.9)
    n_dup = int(round(n_docs * dup_share))
    n_base = n_docs - n_dup
    lens = rng.integers(30, 90, n_base)
    toks: list[np.ndarray] = [vocab[rng.choice(len(vocab), size=k, p=p)] for k in lens]
    for src in rng.choice(n_base, size=n_dup, replace=False):
        t = toks[src].copy()
        hit = rng.random(len(t)) < 0.05
        t[hit] = vocab[rng.choice(len(vocab), size=int(hit.sum()), p=p)]
        toks.append(t)
    text = [" ".join(t) for t in toks]
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": text,
            "lang": langs[rng.integers(0, len(langs), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int, dims: int = 64) -> pa.Table:
    """Unit-norm vectors around 16 centres, so k-means has structure."""
    centres = rng.normal(size=(16, dims))
    label = rng.integers(0, 16, n_vecs)
    v = centres[label] + rng.normal(scale=0.8, size=(n_vecs, dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vecs * dims + 1, dims), pa.int32()),
        pa.array(v.ravel(), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": emb,
            "label": pa.array(label, pa.int32()),
        }
    )


def tables(
    out_dir: str,
    seed: int,
    n_orders: int,
    n_docs: int,
    n_vecs: int,
    dup_share: float = 0.2,
) -> None:
    """All ten tables of ``go_map_reduce_spark.catalog.TABLES`` as
    ``<out_dir>/<table>.parquet``: the catalog and the DuckDB oracle views
    expect all of them, so the ones a workload does not read are written
    with a handful of rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = _star_tables(rng, n_orders)
    t["events"] = _events(rng, 200)
    t["documents"] = _documents(rng, n_docs, dup_share)
    t["embeddings"] = _embeddings(rng, n_vecs)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def text_files(out_dir: str, seed: int, n_files: int, file_bytes: int) -> list[str]:
    """``n_files`` Zipf text files of exactly ``file_bytes`` bytes each
    (the reference's pg-*.txt input shape); returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(vocabulary(20000))
    p = zipf_weights(len(vocab), 1.07)
    rng = np.random.default_rng(seed)
    mean_len = float((np.char.str_len(vocab) + 1) @ p)
    paths = []
    for i in range(n_files):
        n_tok = int(file_bytes / mean_len * 1.05) + 64
        words = vocab[rng.choice(len(vocab), size=n_tok, p=p)]
        lines = [" ".join(words[j : j + 12]) for j in range(0, n_tok, 12)]
        body = "\n".join(lines).encode()[:file_bytes]
        cut = max(body.rfind(b" "), body.rfind(b"\n"))
        body = body[:cut].ljust(file_bytes, b"\n")
        path = os.path.join(out_dir, f"pg-{i}.txt")
        with open(path, "wb") as f:
            f.write(body)
        paths.append(path)
    return paths


def digest(root: str) -> dict:
    """sha256 over every file's relative path and bytes, plus totals."""
    h = hashlib.sha256()
    n_files = n_bytes = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                data = f.read()
            h.update(os.path.relpath(path, root).encode() + b"\0")
            h.update(data)
            n_files += 1
            n_bytes += len(data)
    return {"sha256": h.hexdigest(), "files": n_files, "bytes": n_bytes}


def row_counts(data_dir: str) -> dict[str, int]:
    """Rows of each parquet table and lines of each text file."""
    counts = {}
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        if name.endswith(".parquet"):
            counts[name] = pq.ParquetFile(path).metadata.num_rows
        else:
            with open(path, "rb") as f:
                counts[name] = f.read().count(b"\n")
    return counts
