"""Seeded fixture generator for the benchmark.

Writes the ten tables the package reads (``lstore_spark.catalog.SCHEMAS``)
as single parquet files, shaped like the project's sf fixtures: the same
schemas, key ranges, value domains and row counts per scale factor
(``FIXTURES.md``).  The same ``(seed, sf)`` always yields byte-identical
data, so the benchmark never depends on files outside its checkout.

``scale_corpus`` derives an N× LLM corpus from a base fixture the way
``scripts/make_realdup.py`` does: every replica salts every 25th token
with its identity, except a seed-chosen ~5 % slice whose replicas 0 and 1
share a salt (planted duplicates), and the row order is seed-permuted.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot small new old large red".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMB_DIM = 64
DUP_PCT = 5
SALT_EVERY = 25

_TS = pa.timestamp("us")


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), type=_TS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Space-separated lowercase words, 10-100 tokens each; a DUP_PCT
    slice are near-copies of an earlier document tagged ``dup``."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < DUP_PCT / 100):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))].split()
        if rng.random() < 0.5:  # near copy: one token swapped
            src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(src[:99] + ["dup"])
    return texts


def _embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Array, np.ndarray]:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat), labels


def _tables(sf: float) -> dict:
    """Table name -> builder(rng) of its columns for scale ``sf``."""
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_li = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    def supplier(rng):
        return {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}

    def customer(rng):
        return {"c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}

    def part(rng):
        keys = np.arange(n_part, dtype=np.int64)
        return {"p_partkey": keys,
                "p_name": np.char.add(np.char.add(
                    np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                    np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
                "p_brand": np.char.add(
                    "Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)}

    def orders(rng):
        return {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(dt.date(1995, 1, 1),
                                     rng.integers(0, 2404, n_ord)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}

    def lineitem(rng):
        return {"l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(dt.date(1995, 1, 2),
                                    rng.integers(0, 2499, n_li))}

    def events(rng):
        month_us = 30 * 86_400 * 1_000_000
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(rng.integers(0, month_us, n_ev)) + start
        return {"event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ts, type=pa.int64()).cast(_TS),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}

    def documents(rng):
        texts = _texts(rng, n_docs)
        return {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}

    def embeddings(rng):
        emb, labels = _embeddings(rng, n_emb)
        return {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": emb,
                "label": labels}

    return {
        "region": lambda _rng: {"r_regionkey": pa.array(range(5), pa.int32()),
                                "r_name": REGIONS},
        "nation": lambda _rng: {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "supplier": supplier, "customer": customer, "part": part,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def make_fixture(out_dir: str, seed: int, sf: float,
                 only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the tables for scale factor ``sf`` (all ten, or ``only``
    those named); returns each written table's row count.  Every table
    has its own generator stream, so a table's data does not depend on
    which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (name, build) in enumerate(_tables(sf).items()):
        if only is not None and name not in only:
            continue
        cols = build(np.random.default_rng([seed, int(sf * 1_000_000), i]))
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))
    return rows


def _salt(text: str, tag: str) -> str:
    toks = text.split(" ")
    for j in range(0, len(toks), SALT_EVERY):
        toks[j] = f"{toks[j]}_{tag}"
    return " ".join(toks)


def scale_corpus(base_dir: str, out_dir: str, seed: int,
                 replicas: int) -> dict[str, int]:
    """Write an N× ``documents``/``embeddings`` corpus into ``out_dir``
    and link the other tables from ``base_dir``.  Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, replicas, 7])
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet")).to_pydict()
    n = len(docs["doc_id"])
    planted = rng.random(n) < DUP_PCT / 100
    rows = []
    for r in range(replicas):
        for i in range(n):
            salt = "p" if planted[i] and r < 2 else f"r{r}"
            text = _salt(docs["text"][i], f"{i}s{salt}")
            rows.append((r * n + i, text, docs["lang"][i], docs["source"][i]))
    order = rng.permutation(len(rows))
    rows = [rows[k] for k in order]
    texts = [t for _, t, _, _ in rows]
    _write(out_dir, "documents", {
        "doc_id": np.array([d for d, _, _, _ in rows], dtype=np.int64),
        "text": texts,
        "lang": [lg for _, _, lg, _ in rows],
        "source": [s for _, _, _, s in rows],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    m = emb.num_rows
    vec = np.asarray(emb.column("embedding").combine_chunks().flatten()).reshape(m, EMB_DIM)
    reps = np.concatenate([vec + rng.normal(0.0, 0.01, vec.shape) * (r > 0)
                           for r in range(replicas)])
    reps /= np.linalg.norm(reps, axis=1, keepdims=True)
    eorder = rng.permutation(m * replicas)
    flat = pa.array(reps[eorder].astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (m * replicas + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    labels = np.tile(np.asarray(emb.column("label")), replicas)[eorder]
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(m * replicas, dtype=np.int64)[eorder],
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels.astype(np.int32)})
    for name in os.listdir(base_dir):
        if name.endswith(".parquet") and name not in (
                "documents.parquet", "embeddings.parquet"):
            os.link(os.path.join(base_dir, name), os.path.join(out_dir, name))
    return {"documents": n * replicas, "embeddings": m * replicas}
