"""Measure both sides of ``io.DRIVER_STATE_CAP``: what the driver path
saves below it, and what the bounded read costs a graph above it.

For each size it writes a follower graph with ``size`` edges over
``size // 10`` vertices to one parquet file (the benchmark's power-law
shape, FIXTURES.md §1), then times warm calls of every loop operator
(call + collect, median of ``--reps``):

- ``driver_s``: the driver path, forced by a cap above ``rows`` (the
  operator's input rows);
- ``distributed_s``: the distributed path alone (cap −1, no read);
- ``probed_s``: the distributed path after a bounded read that finds
  the input above the cap (cap ``rows // 2``) — what a graph just above
  the cap pays. On a parquet file ``io.to_driver`` reads only the
  footers to find that; on any other input the read takes half the
  rows, then gives up.

``connected_components`` gets its cap as ``driver_edge_cap``; it has no
``distributed_s`` (without a read it contracts until its round budget
runs out), and its ``probed_s`` is one contraction round plus the read
of the residual.

``kmeans_1d`` runs over ``size`` distinct doubles instead (a table like
``kmeans_centroids``' o_totalprice; follower counts have only a few
hundred distinct values at any of these sizes). ``triangle_count``
runs over the graph's distinct, self-loop-free edges, written to a file
of their own: ``rows`` is a seventh to a quarter of ``size`` there,
since the power-law endpoints repeat; for every other operator it is
``size``. ``read_s`` times the bounded read alone on the edge file (its
footers) and on the same edges behind a shuffle (``repartition(8)``),
whose upstream the read evaluates once more. Prints one JSON line per
(size, operator).

Usage: python tools/driver_cap_sweep.py [--sizes 50000,100000,...]
           [--reps 3] [--out DIR]
Run it alone on the machine: a concurrent Spark job skews every timing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducelearnings_spark.operators import graph as G  # noqa: E402
from mapreducelearnings_spark.operators import kmeans as KM  # noqa: E402
from mapreducelearnings_spark.session import get_spark  # noqa: E402
from mapreducelearnings_spark.sources import io  # noqa: E402


def write_graph(path: str, simple_path: str, size: int, seed: int = 1) -> int:
    """The follower graph to ``path``, its distinct self-loop-free edges
    to ``simple_path``; returns how many of those there are."""
    rng = np.random.default_rng(seed)
    nv = max(1, size // 10)
    ids = rng.permutation(np.arange(1, 10 * nv + 1))[:nv]
    src = ids[rng.zipf(1.6, size) % nv]
    dst = ids[rng.zipf(1.3, size) % nv]
    pq.write_table(pa.table({"src": src, "dst": dst}), path)
    simple = np.unique(np.stack([src, dst], 1)[src != dst], axis=0)
    pq.write_table(pa.table({"src": simple[:, 0], "dst": simple[:, 1]}), simple_path)
    return len(simple)


def write_points(path: str, size: int, seed: int = 1) -> None:
    rng = np.random.default_rng(seed)
    pq.write_table(pa.table({"v": rng.permutation(size) + rng.random(size)}), path)


def timed(fn, reps: int) -> float:
    fn()  # warm-up: the first call of a plan shape pays codegen
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


DEFAULT_CAP = io.DRIVER_STATE_CAP


def with_cap(cap: int, run):
    def call():
        io.DRIVER_STATE_CAP = cap
        try:
            return len(run(cap).collect())
        finally:
            io.DRIVER_STATE_CAP = DEFAULT_CAP

    return call


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="50000,100000,200000,400000,800000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or tempfile.mkdtemp(prefix="driver_cap_sweep_")
    os.makedirs(out, exist_ok=True)
    spark = get_spark("driver_cap_sweep", shuffle_partitions=8)

    for size in map(int, args.sizes.split(",")):
        gpath = os.path.join(out, f"edges_{size}.parquet")
        spath = os.path.join(out, f"simple_{size}.parquet")
        ppath = os.path.join(out, f"points_{size}.parquet")
        n_simple = write_graph(gpath, spath, size)
        write_points(ppath, size)
        edges = spark.read.parquet(gpath)
        simple = spark.read.parquet(spath)
        points = spark.read.parquet(ppath)
        hub = (
            edges.groupBy("src").count().orderBy("count", ascending=False).first()
        )["src"]
        # op -> (run, rows of its input)
        ops = {
            "pagerank_standard": (lambda cap: G.pagerank_standard(spark, edges), size),
            "sssp": (lambda cap: G.sssp(spark, edges, hub), size),
            "connected_components": (
                lambda cap: G.connected_components(spark, edges, driver_edge_cap=cap),
                size,
            ),
            "kmeans_1d": (
                lambda cap: KM.kmeans_1d(points, "v", k=4, fixed_iterations=6),
                size,
            ),
            "triangle_count": (lambda cap: G.triangle_count(simple), n_simple),
        }
        for name, (run, rows) in ops.items():
            row = {"size": size, "op": name, "rows": rows}
            row["driver_s"] = timed(with_cap(10 * rows, run), args.reps)
            if name != "connected_components":
                row["distributed_s"] = timed(with_cap(-1, run), args.reps)
            row["probed_s"] = timed(with_cap(rows // 2, run), args.reps)
            print(json.dumps(row), flush=True)
        shuffled = edges.repartition(8)
        for label, df in (("file", edges), ("shuffled", shuffled)):
            row = {
                "size": size,
                "op": f"read_{label}",
                "read_s": timed(lambda: io.to_driver(df, size // 2), args.reps),
            }
            print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
