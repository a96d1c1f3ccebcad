"""Pure-Python reference results for the follower-graph pass.

Each function restates the operator's documented semantics over plain
lists of ``(src, dst)`` edges, so the Spark outputs can be checked on the
generated graph without Spark.
"""

from __future__ import annotations

import math
from collections import Counter, deque

INF = float("inf")

#: PageRank is a floating-point fold whose summation order differs between
#: engines; ranks must agree to this relative tolerance.
PAGERANK_REL_TOL = 1e-9
#: k-means centroids are means of integer counts; same reason as above.
KMEANS_REL_TOL = 1e-9


def follower_count(edges) -> dict[int, int]:
    return dict(Counter(d for _, d in edges))


def pagerank_standard(edges, iterations: int = 10, damping: float = 0.85):
    verts = {v for e in edges for v in e}
    n = len(verts)
    deg = Counter(s for s, _ in edges)
    ranks = dict.fromkeys(verts, 1.0 / n)
    for _ in range(iterations):
        mass = dict.fromkeys(verts, 0.0)
        for s, d in edges:
            mass[d] += ranks[s] / deg[s]
        dangling = sum(r for v, r in ranks.items() if v not in deg)
        ranks = {
            v: (1.0 - damping) / n + damping * (mass[v] + dangling / n)
            for v in verts
        }
    return ranks


def sssp(edges, source: int) -> dict[int, float]:
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    dist = {v: INF for e in edges for v in e}
    dist[source] = 0.0
    q = deque([source])
    while q:
        u = q.popleft()
        for v in out.get(u, ()):
            if dist[v] == INF:
                dist[v] = dist[u] + 1.0
                q.append(v)
    return dist


def connected_components(edges) -> dict[int, int]:
    """vertex → smallest vertex id of its undirected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in list(parent)}


def triangle_count(edges, cap: int) -> int:
    """Directed 3-cycles / 3 over the distinct edges with both ids ≤ cap."""
    kept = {(s, d) for s, d in edges if s <= cap and d <= cap}
    out: dict[int, set[int]] = {}
    for s, d in kept:
        out.setdefault(s, set()).add(d)
    cycles = sum(
        1
        for a, b in kept
        for c in out.get(b, ())
        if a in out.get(c, ())
    )
    return cycles // 3


def kmeans_1d(values, k: int, rounds: int):
    """(cluster_id → (centroid, n_points)) after exactly ``rounds``
    assign + update rounds, with evenly spaced seeds max/k·j and the
    lowest-id tiebreak; a cluster that loses every point disappears."""
    weights = Counter(float(v) for v in values)
    mx = max(weights)
    cents = {j + 1: (mx / k) * (j + 1) for j in range(k)}

    def assign(x: float, c: dict[int, float]) -> int:
        return min((abs(x - cv), cid) for cid, cv in sorted(c.items()))[1]

    for _ in range(rounds):
        num: dict[int, float] = {}
        den: dict[int, int] = {}
        for x, w in weights.items():
            cid = assign(x, cents)
            num[cid] = num.get(cid, 0.0) + x * w
            den[cid] = den.get(cid, 0) + w
        cents = {cid: num[cid] / den[cid] for cid in num}
    sizes: Counter = Counter()
    for x, w in weights.items():
        sizes[assign(x, cents)] += w
    return {cid: (cents[cid], n) for cid, n in sizes.items()}


def close(a: float, b: float, rel: float) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-15)
