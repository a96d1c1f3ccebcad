"""Property-based tests (hypothesis): random inputs, algebraic
invariants. Complements the fixture tests — the k-means cluster-id bug
showed that one data distribution is not enough.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from mapreducelearnings_spark.functions import skew as SK
from mapreducelearnings_spark.operators import graph as G
from mapreducelearnings_spark.operators import relational as R
from mapreducelearnings_spark.operators.asof import asof_join
from mapreducelearnings_spark.sources import io

edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=40
)


@settings(max_examples=8, deadline=None)
@given(edges=edge_lists)
def test_salted_count_equals_direct_on_random_edges(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    direct = sorted(map(tuple, R.follower_count(df).collect()))
    salted = sorted(map(tuple, SK.salted_count(df, "dst").collect()))
    assert salted == direct


@settings(max_examples=6, deadline=None)
@given(edges=edge_lists)
def test_triangle_plans_agree_on_random_graphs(spark, edges):
    """The three join plans, forced by a negative driver cap."""
    df = (
        spark.createDataFrame(edges, "src: long, dst: long")
        .where("src <> dst")
        .distinct()
    )
    if df.count() == 0:
        return
    with pytest.MonkeyPatch.context() as m:
        m.setattr(io, "DRIVER_STATE_CAP", -1)
        a = G.triangle_count(df, broadcast_probe=False).first()["triangles"]
        b = G.triangle_count(df, broadcast_probe=True).first()["triangles"]
        c = G.triangle_count_ordered(df).first()["triangles"]
    assert a == b == c


multigraphs = st.lists(
    st.tuples(st.none() | st.integers(0, 6), st.none() | st.integers(0, 6)),
    max_size=30,
)


@settings(max_examples=6, deadline=None)
@given(edges=multigraphs)
def test_triangle_driver_kernel_matches_join_plans(spark, edges):
    """Raw multigraphs — duplicates, self-loops, NULL endpoints — with
    wedge chunks of 3: the driver kernel gives each plan's exact count."""
    df = spark.createDataFrame(edges, "src: long, dst: long")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(G, "_WEDGE_CHUNK", 3)
        local = [G.triangle_count(df).first(), G.triangle_count_ordered(df).first()]
        m.setattr(io, "DRIVER_STATE_CAP", -1)
        dist = [G.triangle_count(df).first(), G.triangle_count_ordered(df).first()]
    assert local == dist


@settings(max_examples=8, deadline=None)
@given(edges=multigraphs)
def test_cc_driver_kernel_matches_python_union_find(spark, edges):
    """Raw multigraphs — duplicates, self-loops, NULL endpoints: the
    driver kernel labels every vertex of a NULL-free edge with its
    component's minimum, like a plain-Python union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = dict(map(tuple, G.connected_components(spark, df).collect()))
    assert G.CC_LAST_STATS["rounds"] == 0
    assert got == {v: find(v) for v in list(parent)}


@settings(max_examples=6, deadline=None)
@given(edges=edge_lists)
def test_star_cc_agrees_with_union_find_on_random_graphs(spark, edges):
    """Property form of the star-vs-union-find agreement: on arbitrary
    multigraphs (self-loops, duplicates, both directions) every
    star_rounds depth yields the identical labeling."""
    df = spark.createDataFrame(edges, "src: long, dst: long")
    base = {
        r["vertex"]: r["component"]
        for r in G.connected_components(spark, df).collect()
    }
    star = {
        r["vertex"]: r["component"]
        for r in G.connected_components_star(spark, df, star_rounds=2).collect()
    }
    assert star == base


@settings(max_examples=6, deadline=None)
@given(
    counts=st.lists(st.integers(0, 50), min_size=1, max_size=30),
    shards=st.integers(1, 8),
)
def test_two_phase_prefix_sum_matches_sequential(spark, counts, shards):
    """The distributed two-phase prefix sum equals the sequential
    cumulative sum for any value list and shard count (including
    n_shards > n_rows and zero values)."""
    from mapreducelearnings_spark.pipeline import packing as PK

    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id: long, n_tokens: long")
    got = {
        r["doc_id"]: r["cum"]
        for r in PK._global_prefix_sum(spark, df, n_shards=shards).collect()
    }
    acc, want = 0, {}
    for i, c in enumerate(counts):
        acc += c
        want[i] = acc
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 99)),
        min_size=1,
        max_size=15,
    ),
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=10
    ),
)
def test_asof_join_matches_python_reference(spark, rights, lefts):
    """asof_join ≡ the obvious per-row Python computation: latest right
    (by ts, then id) with same key and ts ≤ left ts."""
    rdf = spark.createDataFrame(rights, "k: long, t: long, rid: long")
    lefts_id = [(k, t, i) for i, (k, t) in enumerate(lefts)]
    ldf = spark.createDataFrame(lefts_id, "k: long, t: long, lid: long")
    out = {
        r["lid"]: r["rid"]
        for r in asof_join(
            ldf, rdf, "k", "t", "t", right_payload=["rid"], tiebreak="rid"
        ).collect()
    }
    for k, t, lid in lefts_id:
        cands = [(rt, rid) for (rk, rt, rid) in rights if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert out[lid] == expect, (lid, k, t, cands)


@settings(max_examples=6, deadline=None)
@given(
    points=st.lists(st.integers(0, 200), min_size=1, max_size=15),
    intervals=st.lists(
        st.tuples(st.integers(0, 200), st.integers(1, 60)),
        min_size=1,
        max_size=10,
    ),
    band=st.integers(1, 80),
)
def test_banded_interval_join_property(spark, points, intervals, band):
    """banded_interval_join ≡ brute-force lo<=x<hi for arbitrary point
    sets, interval lengths, and band widths (including bands smaller
    AND larger than every interval)."""
    from mapreducelearnings_spark.operators.rangejoin import (
        banded_interval_join,
    )

    pdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(points)], "pid long, x long"
    )
    ivs = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(intervals)]
    idf = spark.createDataFrame(ivs, "iid long, lo long, hi long")
    got = sorted(
        (r["pid"], r["iid"])
        for r in banded_interval_join(pdf, idf, "x", "lo", "hi", band).collect()
    )
    want = sorted(
        (pi, ii)
        for pi, x in enumerate(points)
        for ii, lo, hi in ivs
        if lo <= x < hi
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_morton_spread_is_injective_and_orders_locally(pairs):
    """The mask-ladder bit spread is the Morton interleave: zvals are
    unique per (ux,tx) pair and decode back exactly (pure-Python mirror
    of the column expression / SQL ladder)."""

    def spread(x):
        for shift, mask in [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]:
            x = (x | (x << shift)) & mask
        return x

    def unspread(x):
        for shift, mask in [(1, 0x33333333), (2, 0x0F0F0F0F), (4, 0x00FF00FF), (8, 0x0000FFFF)]:
            x = (x | (x >> shift)) & mask
        return x

    zvals = {}
    for ux, tx in pairs:
        z = spread(ux) | (spread(tx) << 1)
        assert unspread(z & 0x55555555) == ux
        assert unspread((z >> 1) & 0x55555555) == tx
        zvals[z] = (ux, tx)
    assert len(zvals) == len(pairs)  # injective


# --- round-6 event-log + sampling operators -------------------------------

event_lists = st.lists(
    st.tuples(
        st.integers(0, 4),      # user
        st.integers(0, 4000),   # ts_sec
        st.floats(-5, 5, allow_nan=False, width=32),  # value
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(events=event_lists)
def test_sessionize_matches_python_reference(spark, events):
    """Gap sessionization vs a sequential per-user reference: same
    session count, sizes, durations and (rounded) value sums on random
    event streams."""
    from mapreducelearnings_spark.operators import eventlog as EL

    rows = [
        (u, i, t, float(v)) for i, (u, t, v) in enumerate(events)
    ]  # event_id = input index (unique tiebreak)
    df = spark.createDataFrame(
        rows, "user_id: long, event_id: long, ts_sec: long, value: double"
    )
    got = sorted(
        map(tuple, EL.sessionize(df, gap_sec=100).collect())
    )

    # sequential reference
    by_user: dict[int, list] = {}
    for u, i, t, v in rows:
        by_user.setdefault(u, []).append((t, i, v))
    import math

    expect = []
    for u, evs in by_user.items():
        evs.sort()
        sess, cur = [], []
        for t, i, v in evs:
            if cur and t - cur[-1][0] > 100:
                sess.append(cur)
                cur = []
            cur.append((t, i, v))
        sess.append(cur)
        for idx, s in enumerate(sess, start=1):
            ts = [t for t, _, _ in s]
            v6_sum = sum(math.floor(v * 1_000_000 + 0.5) for _, _, v in s)
            expect.append(
                (
                    u,
                    idx,
                    len(s),
                    max(ts) - min(ts),
                    math.floor(v6_sum / 100.0 + 0.5) / 10000.0,
                )
            )
    expect.sort()
    assert got == expect  # EXACT: lesson-14 integer form, no tolerance


@settings(max_examples=8, deadline=None)
@given(events=event_lists)
def test_scd2_intervals_reconstruct_pointwise_state(spark, events):
    """SCD2 compaction must be a lossless state encoding: for every
    original event timestamp, the interval covering it yields exactly
    the state the raw (latest-change-wins) log gives at that instant;
    intervals per key must also tile without overlap."""
    from mapreducelearnings_spark.operators import eventlog as EL

    rows = [
        (u, i, t, ["a", "b", "c"][int(abs(v)) % 3])
        for i, (u, t, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, event_id: long, ts_sec: long, event_type: string"
    )
    got = EL.scd2_intervals(
        df, state_col="event_type"
    ).collect()

    by_user: dict[int, list] = {}
    for u, i, t, s in rows:
        by_user.setdefault(u, []).append((t, i, s))
    for u in by_user:
        by_user[u].sort()

    iv_by_user: dict[int, list] = {}
    for r in got:
        iv_by_user.setdefault(r.user_id, []).append(
            (r.valid_from_sec, r.valid_to_sec, r.event_type, r.is_current)
        )
    assert set(iv_by_user) == set(by_user)
    for u, ivs in iv_by_user.items():
        ivs.sort(key=lambda x: x[0])
        # tiling: each interval's end is the next one's start; last is open
        for a, b in zip(ivs, ivs[1:]):
            assert a[1] == b[0] and a[3] is False
        assert ivs[-1][1] is None and ivs[-1][3] is True
        # pointwise state reconstruction at every event timestamp
        for t, i, _ in by_user[u]:
            state_ref = max(
                (x for x in by_user[u] if x[0] <= t), key=lambda x: (x[0], x[1])
            )[2]
            covering = [
                s for lo, hi, s, _ in ivs if lo <= t and (hi is None or t < hi)
            ]
            if covering:  # boundary rows where a later same-ts event changed
                assert len(covering) == 1
                # state: compare against the last change <= t in change order
                changes = []
                prev = None
                for tt, ii, ss in by_user[u]:
                    if prev is None or ss != prev:
                        changes.append((tt, ii, ss))
                    prev = ss
                ref = max(
                    (c for c in changes if c[0] <= t),
                    key=lambda c: (c[0], c[1]),
                )[2]
                assert covering[0] == ref


@settings(max_examples=8, deadline=None)
@given(
    groups=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        min_size=1,
        max_size=50,
    )
)
def test_ordered_group_concat_matches_python_reference(spark, groups):
    """Secondary sort vs sorted() — payload order inside each group must
    be exactly the composite-key sort order."""
    from mapreducelearnings_spark.operators import relational as RL

    rows = [(k, s, i) for i, (k, s, _) in enumerate(groups)]
    df = spark.createDataFrame(rows, "k: long, s: long, pid: long")
    got = {
        r.k: (r.n_items, r.ordered_values)
        for r in RL.ordered_group_concat(df, "k", ("s", "pid"), "pid").collect()
    }
    expect: dict[int, list] = {}
    for k, s, pid in rows:
        expect.setdefault(k, []).append((s, pid))
    for k, vals in expect.items():
        vals.sort()
        assert got[k] == (len(vals), ",".join(str(p) for _, p in vals))


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 5000)),
        min_size=1,
        max_size=60,
        unique_by=lambda d: d[0],
    ),
    k=st.integers(1, 10),
)
def test_priority_sample_matches_python_reference(spark, docs, k):
    """Priority sampling vs an exact-fraction Python reference: the
    md5-derived priorities admit an exact rational ordering
    (w·2M)/(2u+1), so the selected id set must match exactly."""
    import hashlib
    from fractions import Fraction

    from mapreducelearnings_spark.pipeline import sampling as SA

    df = spark.createDataFrame(docs, "doc_id: long, n_chars: long")
    got = [r.doc_id for r in SA.priority_sample(df, k=k).collect()]

    def u(doc_id: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:15], 16) % SA.PRIO_MOD

    # exact rational priority; ties broken by doc_id ascending
    ranked = sorted(
        docs,
        key=lambda d: (
            -Fraction(d[1] * 2 * SA.PRIO_MOD, 2 * u(d[0]) + 1),
            d[0],
        ),
    )
    expect = [d[0] for d in ranked[:k]]
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(
    points=st.lists(
        st.one_of(
            st.integers(-(2**62), 2**62),   # far beyond double's 2^52 exactness
            st.integers(-300, 300),         # dense near zero (sign boundary)
        ),
        min_size=1,
        max_size=12,
    ),
    intervals=st.lists(
        st.tuples(
            st.one_of(
                st.integers(-(2**62), 2**62 - 10**7),
                st.integers(-300, 300),
            ),
            st.integers(1, 10**6),
        ),
        min_size=1,
        max_size=8,
    ),
    band=st.one_of(st.integers(1, 100), st.integers(10**6, 10**12)),
)
def test_banded_interval_join_extreme_magnitudes(spark, points, intervals, band):
    """The round-6 exact-integer banding fix, locked as a property:
    correctness must hold for NEGATIVE keys (floor vs truncate-toward-
    zero divergence at the origin) and for magnitudes far beyond 2^52,
    where the old double-division band key silently mis-bucketed
    (nanosecond-epoch territory). Same brute-force reference as the
    base property test."""
    from mapreducelearnings_spark.operators.rangejoin import (
        banded_interval_join,
    )

    pdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(points)], "pid long, x long"
    )
    ivs = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(intervals)]
    idf = spark.createDataFrame(ivs, "iid long, lo long, hi long")
    got = sorted(
        (r["pid"], r["iid"])
        for r in banded_interval_join(pdf, idf, "x", "lo", "hi", band).collect()
    )
    want = sorted(
        (pi, ii)
        for pi, x in enumerate(points)
        for ii, lo, hi in ivs
        if lo <= x < hi
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),       # user
            st.integers(0, 500),     # ts_sec
            st.floats(-10, 10, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_time_weighted_avg_matches_python_reference(spark, events):
    """TWA vs a sequential reference computed in exact integer space
    (quantized value x duration), including the open-last-interval and
    zero-duration-tie exclusions."""
    from mapreducelearnings_spark.queries import REGISTRY  # noqa: F401
    import math

    rows = [(u, i, t, float(v)) for i, (u, t, v) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id: long, event_id: long, ts_sec: long, value: double"
    )
    from pyspark.sql import Window, functions as F2

    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    iv = df.select(
        "user_id",
        F2.floor(F2.col("value") * 1_000_000 + F2.lit(0.5))
        .cast("long")
        .alias("v6"),
        (F2.lead("ts_sec").over(w) - F2.col("ts_sec")).alias("dur"),
    ).where(F2.col("dur").isNotNull() & (F2.col("dur") > 0))
    got = {
        r.user_id: (r.total_sec, r.twa)
        for r in iv.groupBy("user_id")
        .agg(
            F2.sum("dur").cast("long").alias("total_sec"),
            (
                F2.floor(
                    (F2.sum(F2.col("v6") * F2.col("dur")).cast("double") / F2.sum("dur"))
                    / F2.lit(100.0)
                    + F2.lit(0.5)
                )
                / F2.lit(10000.0)
            ).alias("twa"),
        )
        .collect()
    }

    by_user: dict[int, list] = {}
    for u, i, t, v in rows:
        by_user.setdefault(u, []).append((t, i, v))
    for u, evs in by_user.items():
        evs.sort()
        num = den = 0
        for (t, _, v), (t2, _, _) in zip(evs, evs[1:]):
            dur = t2 - t
            if dur > 0:
                num += math.floor(v * 1_000_000 + 0.5) * dur
                den += dur
        if den == 0:
            assert u not in got
        else:
            want = math.floor((num / den) / 100.0 + 0.5) / 10000.0
            assert got[u] == (den, want)


@settings(max_examples=8, deadline=None)
@given(edges=edge_lists)
def test_degree_distribution_matches_python_reference(spark, edges):
    from collections import Counter

    from pyspark.sql import functions as F2

    df = spark.createDataFrame(edges, "src: long, dst: long")
    deg = df.groupBy("src").count()
    got = sorted(
        (r["count"], r["cnt"])
        for r in deg.groupBy("count")
        .agg(F2.count(F2.lit(1)).alias("cnt"))
        .collect()
    )
    degrees = Counter(s for s, _ in edges)
    hist = Counter(degrees.values())
    assert got == sorted((d, n) for d, n in hist.items())


def _bpe_reference(texts: list[str], rounds: int, batch_size: int = 1):
    """Pure-Python greedy BPE trainer — the independent oracle for
    pipeline.bpe.train_merges (cross-implementation pattern, SURVEY §5):
    symbols as tuples, naive adjacent-pair counts with multiplicity,
    (count DESC, lhs ASC, rhs ASC) tiebreak, greedy LEFT-TO-RIGHT
    non-overlapping merge. Each round merges the first ``batch_size``
    mutually symbol-disjoint pairs among the top ``4 * batch_size``."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+", t.lower()):
            wf[w] += 1
    vocab = {tuple(w): f for w, f in wf.items()}
    merges = []
    while len(merges) < rounds:
        pc = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        used, batch = set(), []
        for (lhs, rhs), cnt in ranked[: 4 * batch_size]:
            if len(batch) == min(batch_size, rounds - len(merges)):
                break
            if lhs not in used and rhs not in used:
                batch.append((lhs, rhs, cnt))
                used.update((lhs, rhs))
        for lhs, rhs, cnt in batch:
            merges.append((len(merges) + 1, lhs, rhs, cnt))
            nxt = {}
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                key = tuple(out)
                nxt[key] = nxt.get(key, 0) + f
            vocab = nxt
    return merges


_bpe_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=12
)


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(_bpe_words, min_size=1, max_size=3))
def test_bpe_trainer_matches_python_reference(spark, docs):
    """The distributed trainer must reproduce the pure-Python greedy
    trainer exactly on random tiny-alphabet corpora — the {a,b}
    alphabet maximizes overlapping-pair and tie-break pressure (the
    regimes where a wrong replace/count/tiebreak shows)."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    texts = [" ".join(ws) for ws in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = [tuple(r) for r in BP.train_merges(spark, df, rounds=4).collect()]
    assert got == _bpe_reference(texts, rounds=4)


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(st.text(alphabet=" 09_-.!ÉÄ", max_size=8), max_size=3),
    batch_size=st.sampled_from([1, 3]),
)
def test_bpe_trainer_learns_nothing_from_wordless_corpora(spark, texts, batch_size):
    """An empty corpus, or one whose words have no [a-z] character
    (digits, punctuation, non-ASCII letters), has no vocabulary: the
    trainer returns an empty merge table, as the Python trainer does."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id: long, text: string")
    got = BP.train_merges(spark, df, rounds=3, batch_size=batch_size).collect()
    assert [tuple(r) for r in got] == _bpe_reference(texts, 3, batch_size) == []


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(_bpe_words, min_size=1, max_size=3), batch_size=st.integers(3, 8))
def test_bpe_batch_wider_than_its_disjoint_pairs(spark, docs, batch_size):
    """Over the {a,b} alphabet a round has at most two symbol-disjoint
    pairs at first, so a batch of 3–8 slots comes up short: the rounds
    merge what the disjoint selection allows, exactly like the Python
    trainer, and stop at the merge budget or an exhausted vocabulary."""
    from mapreducelearnings_spark.pipeline import bpe as BP

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id: long, text: string")
    got = BP.train_merges(spark, df, rounds=6, batch_size=batch_size).collect()
    assert [tuple(r) for r in got] == _bpe_reference(texts, 6, batch_size)
