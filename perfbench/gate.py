"""Correctness gate: expected results and the checks that compare an
execution's rows against them. Runs outside the timed windows.

A check takes the collected rows (tuples) and column names and returns
``None`` when they are right, or a one-line description of the first
mismatch.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from tools.check_oracles import normalize

import reference as ref

Check = Callable[[list[tuple], list[str]], "str | None"]


def oracle_check(con, sql: str) -> Check:
    """Exact, order-insensitive comparison with a DuckDB oracle."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    expected = normalize(res.fetchall(), ocols)

    def check(rows, cols):
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        got = normalize(rows, cols)
        if len(got) != len(expected):
            return f"{len(got)} rows != oracle {len(expected)}"
        for i, (a, b) in enumerate(zip(got, expected)):
            if a != b:
                return f"sorted row {i}: {a} != oracle {b}"
        return None

    return check


def _mapping(rows, what: str) -> dict:
    out = {}
    for k, v in rows:
        if k in out:
            raise ValueError(f"duplicate {what} key {k}")
        out[k] = v
    return out


def _compare_maps(got: dict, want: dict, what: str, same) -> str | None:
    if got.keys() != want.keys():
        extra = sorted(got.keys() - want.keys())[:3]
        missing = sorted(want.keys() - got.keys())[:3]
        return f"{what}: keys differ (extra {extra}, missing {missing})"
    for k in sorted(want):
        if not same(got[k], want[k]):
            return f"{what}[{k}] = {got[k]} != reference {want[k]}"
    return None


def graph_checks(
    edges: list[tuple[int, int]], source: int, cap: int, k: int, rounds: int
) -> dict[str, Check]:
    """Checks for every step of the follower-graph pass, computed from the
    pure-Python reference on the same generated edges."""
    counts = ref.follower_count(edges)
    ranks = ref.pagerank_standard(edges)
    dist = ref.sssp(edges, source)
    comps = ref.connected_components(edges)
    triangles = ref.triangle_count(edges, cap)
    clusters = ref.kmeans_1d(counts.values(), k, rounds)

    def exact(a, b):
        return a == b

    def rank_close(a, b):
        return ref.close(a, b, ref.PAGERANK_REL_TOL)

    def kmeans_same(a, b):
        return a[1] == b[1] and ref.close(a[0], b[0], ref.KMEANS_REL_TOL)

    def by_key(want, what, same, pick=lambda r: (r[0], r[1])):
        def check(rows, cols):
            try:
                got = _mapping([pick(r) for r in rows], what)
            except ValueError as e:
                return str(e)
            return _compare_maps(got, want, what, same)

        return check

    def scalar(want, what):
        def check(rows, cols):
            got = rows[0][0] if len(rows) == 1 else rows
            return None if got == want else f"{what} {got} != reference {want}"

        return check

    return {
        "edge_ingest": scalar(len(edges), "edge rows"),
        "follower_count": by_key(counts, "follower count", exact),
        "pagerank": by_key(ranks, "rank", rank_close),
        "sssp": by_key(dist, "distance", exact),
        "connected_components": by_key(comps, "component", exact),
        "triangles": scalar(triangles, "triangles"),
        "kmeans": by_key(
            clusters, "cluster", kmeans_same, pick=lambda r: (r[0], (r[1], r[2]))
        ),
    }


def recall(found: list[tuple], exact: list[tuple]) -> float:
    """Share of the exact ``(query_id, neighbor_id)`` pairs the ANN found."""
    want = {(r[0], r[1]) for r in exact}
    got = {(r[0], r[1]) for r in found}
    return len(want & got) / len(want) if want else math.nan
