from __future__ import annotations

import math
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from mapreducelearnings_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        "pytest",
        shuffle_partitions=8,
        extra_conf={
            # static conf — must be set at session build, used by the
            # bucketed-table tests
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="mrl_wh_")
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize(rows, colnames):
    """Order-insensitive canonical form: columns sorted by name, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def assert_driver_hashable(rows, colnames):
    """Mimic the driver's pandas canonicalizer: a result with raw
    array/map/struct cells makes ``sort_values`` factorize unhashable
    Python objects and the driver row goes red even when the values are
    right (CORRECTNESS_r04 ``hof_gauntlet``). Registry rule: stringify
    complex outputs (array_join / to_json) before returning."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=list(colnames))
    try:
        pdf.sort_values(by=sorted(pdf.columns), kind="mergesort")
    except TypeError as e:  # pragma: no cover - lint failure path
        raise AssertionError(
            f"result not driver-canonicalizable (raw complex column?): {e}"
        ) from None


def jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the number
    of Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_matches_oracle(sdf, duck, sql):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert_driver_hashable(srows, scols)
    res = duck.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), f"columns {sorted(scols)} != {sorted(ocols)}"
    assert len(srows) == len(orows), f"rowcount {len(srows)} != {len(orows)}"
    ns, no = normalize(srows, scols), normalize(orows, ocols)
    assert ns == no, next(
        f"first diff at sorted row {i}:\n spark={a}\n duck ={b}"
        for i, (a, b) in enumerate(zip(ns, no))
        if a != b
    )
