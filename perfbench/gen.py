"""Seeded input generation for the benchmark.

Everything the engine receives is made here from ``--seed``: crawl seed
URLs (the seed feeds the URL prefix), the operator tables, the PageRank
graph (the seed feeds the edge hash), the above-gate dedup corpus (the
seed feeds the doc-id offsets) and the ingest micro-batch files (the seed
feeds the duplicate-planting positions). Generation uses numpy and
pyarrow only, so it runs no Spark job and the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# value domains of the engine's synthetic TPC-H-ish star schema
_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# base row counts at scale factor 1
_BASE = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, purpose)."""
    salt = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed & 0xFFFFFFFF, salt])


def crawl_seed_urls(seed: int, n: int) -> list[str]:
    """Seed URLs in the engine's synthetic web; the prefix carries the seed."""
    from croawl_spark import synth

    return [synth.target_url(f"pb{seed}-{i // 3}", i % 3) for i in range(n)]


def doc_texts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Word-salad documents of 10-100 words over the schema's vocabulary."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return np.array([" ".join(w) for w in np.split(_WORDS[words], cuts)], dtype=object)


def documents(seed: int, n: int, id_offset: int = 0) -> pa.Table:
    rng = _rng(seed, "docs")
    text = doc_texts(rng, n)
    # a few exact copies, so exact-dedup operators find work
    dup_src = rng.integers(0, n, max(n // 600, 1))
    dup_dst = rng.integers(0, n, len(dup_src))
    text[dup_dst] = text[dup_src]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64) + id_offset),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(_LANGS[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def _timestamps(rng, n: int, start: str, days: int, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def operator_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the operator battery reads, at scale factor ``sf``."""
    rng = _rng(seed, "tables")
    n = {k: max(int(v * sf), 1) for k, v in _BASE.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), np_)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
        "p_type": pa.array(_PTYPES[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10.0, 2)),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _timestamps(rng, no, "1995-01-01", 2400, True),
        "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _timestamps(rng, nl, "1995-01-02", 2500, True),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _timestamps(rng, ne, "2024-01-01", 30, False),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 1), ne).astype(np.int64)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = documents(seed, n["documents"])
    nv = n["embeddings"]
    vec = rng.normal(0, 0.1, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def inflated_corpus(seed: int, n_docs: int, copies: int) -> pa.Table:
    """``n_docs`` documents, each repeated ``copies`` times under distinct
    ids; the id offsets of the copies come from the seed."""
    base = documents(seed, n_docs).select(["doc_id", "text"])
    rng = _rng(seed, "inflate")
    offsets = np.sort(rng.choice(np.arange(1, 1000), copies - 1, replace=False))
    ids = [np.arange(n_docs, dtype=np.int64)] + [
        np.arange(n_docs, dtype=np.int64) + int(o) * 1_000_000 for o in offsets
    ]
    text = base.column("text").combine_chunks()
    return pa.table({
        "doc_id": pa.array(np.concatenate(ids)),
        "text": pa.concat_arrays([text] * copies),
    })


def graph_edges(seed: int, n_vertices: int, out_degree: int) -> tuple[pa.Table, pa.Table]:
    """Directed graph with ``out_degree`` seeded-hash targets per vertex,
    skewed so a few vertices collect most in-links."""
    rng = _rng(seed, "graph")
    src = np.repeat(np.arange(n_vertices, dtype=np.int64), out_degree)
    u = rng.random(len(src))
    dst = (n_vertices * u * u).astype(np.int64)
    vertices = pa.table({"id": pa.array(np.arange(n_vertices, dtype=np.int64))})
    return vertices, pa.table({"src": pa.array(src), "dst": pa.array(dst)})


def ingest_batches(
    seed: int, out_dir: str, n_batches: int, per_batch: int, dups_per_batch: int = 3
) -> dict:
    """One parquet file per micro-batch. From the third batch on, each
    batch re-sends ``dups_per_batch`` texts first sent in an earlier batch
    under new ids (exact cross-history duplicates, positions from the
    seed). Returns the planted duplicate ids."""
    os.makedirs(out_dir, exist_ok=True)
    total = n_batches * per_batch
    docs = documents(seed, total, id_offset=(seed % 1000) * 10_000_000)
    rng = _rng(seed, "plant")
    planted: list[int] = []
    for b in range(n_batches):
        part = docs.slice(b * per_batch, per_batch)
        if b >= 2:
            src = rng.choice(b * per_batch, dups_per_batch, replace=False)
            dup = docs.take(pa.array(src))
            ids = np.arange(dups_per_batch, dtype=np.int64) + 900_000_000_000 + b * 1000
            dup = dup.set_column(0, "doc_id", pa.array(ids))
            planted.extend(int(i) for i in ids)
            part = pa.concat_tables([part, dup])
        path = os.path.join(out_dir, f"b{b:04d}.parquet")
        pq.write_table(part, path)
        # the file source takes files in modification-time order
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    return {"planted_ids": planted, "n_offered": total + len(planted)}
