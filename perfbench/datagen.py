"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` — the TPC-H-style star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the registry queries read
  (same column names, types and value domains as the fixture tables the
  DuckDB oracles were written against), scaled by ``sf``.
* ``write_edges_csv`` — a power-law ``follower,followee`` edge list in the
  reference's input shape (FIXTURES.md §1): duplicate edges, dangling
  vertices (no out-edges) and vertex ids spread past the max-filter cap.

Everything is drawn from ``numpy.random.default_rng(seed)``; the same seed
gives byte-identical CSV and identical table contents.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["hot", "large", "new", "old", "red", "small", "blue", "dark"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark line column order small sort fast value scan stream filter big "
    "batch merge group a the key hash table query agg join vector part "
    "customer slow row data window dup"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (sf=1 ≙ 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    # events: ids in time order over 30 days of January 2024
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
            ),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents with ~6 % planted near-duplicates."""
    texts: list[str] = []
    while len(texts) < n_docs:
        words = list(rng.choice(VOCAB, size=int(rng.integers(8, 100))))
        texts.append(" ".join(words))
        if rng.random() < 0.06 and len(texts) < n_docs:
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng, n_vecs: int, dims: int = 64, labels: int = 10) -> pa.Table:
    """Clustered 64-d float32 vectors with ~3 % planted near-duplicates."""
    centers = rng.normal(size=(labels, dims))
    label = rng.integers(0, labels, n_vecs)
    vecs = centers[label] + 0.3 * rng.normal(size=(n_vecs, dims))
    dup_of = rng.integers(0, n_vecs, n_vecs)
    dup = (rng.random(n_vecs) < 0.03) & (dup_of < np.arange(n_vecs))
    vecs[dup] = vecs[dup_of[dup]] + 0.01 * rng.normal(size=(int(dup.sum()), dims))
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` unless the
    directory is already complete; publish by atomic rename."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


# ---------------------------------------------------------------------------
# Follower graph
# ---------------------------------------------------------------------------


#: share of followees drawn uniformly rather than by popularity
UNIFORM_FOLLOWEE_SHARE = 1 / 2


def make_edges(seed: int, n_vertices: int, n_edges: int) -> np.ndarray:
    """(src, dst) int64 pairs: power-law out-degree and in-degree, ~10 %
    dangling vertices, ~2 % duplicate edges, no self-loops; ids are a
    sparse sample of ``1 .. 10·n_vertices`` so an id cap keeps a subset."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(10 * n_vertices, n_vertices, replace=False) + 1)
    out_w = rng.pareto(1.5, n_vertices) + 1.0
    out_w[rng.random(n_vertices) < 0.10] = 0.0  # dangling: no out-edges
    in_w = rng.pareto(1.2, n_vertices) + 1.0
    n_unique = int(n_edges * 0.98)
    src = rng.choice(n_vertices, n_unique, p=out_w / out_w.sum())
    # a third of the followees are uniform: it keeps every vertex a few
    # hops from the hubs, so BFS depth does not swing with the seed
    dst = np.where(
        rng.random(n_unique) < UNIFORM_FOLLOWEE_SHARE,
        rng.integers(0, n_vertices, n_unique),
        rng.choice(n_vertices, n_unique, p=in_w / in_w.sum()),
    )
    keep = src != dst
    pairs = np.stack([ids[src[keep]], ids[dst[keep]]], axis=1)
    dups = pairs[rng.integers(0, len(pairs), n_edges - len(pairs))]
    pairs = np.concatenate([pairs, dups])
    return pairs[rng.permutation(len(pairs))]


def write_edges_csv(path: str, edges: np.ndarray) -> None:
    """One ``follower,followee`` line per edge."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(f"{s},{d}" for s, d in edges.tolist()))
        f.write("\n")
    os.replace(tmp, path)
