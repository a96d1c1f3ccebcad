"""Registry-wide output-contract lint.

Two static rules, both learned from real driver reds:

1. **Hashability** — the driver canonicalizes every query result through
   a pandas ``sort_values`` over all columns before hashing; a raw
   ``array<>``, ``map<>`` or ``struct<>`` output column makes that
   factorization throw ``TypeError: unhashable type`` and the row goes
   red regardless of the values (this killed ``hof_gauntlet`` in round
   4). Rule: stringify complex outputs (``F.array_join`` / ``F.to_json``)
   in both the Spark query and its oracle. The dynamic twin lives in
   ``conftest.assert_driver_hashable``, run on every oracle-parity
   collect.

2. **Type classes** — the driver hashes TYPED values, so an oracle whose
   output type class differs from Spark's hash-mismatches even when
   every value is equal. The observed instance: DuckDB widens integer
   ``SUM()`` to HUGEINT (int128) where Spark produces bigint — this
   kept ``shipmode_priority`` red for five rounds while the value-level
   local checks stayed green (VERDICT r05). Rule: cast oracle aggregates
   (``CAST(SUM(...) AS BIGINT)``) so both engines agree on the class.
   DESCRIBE plans the oracle without executing it, so this lint is
   static and cheap.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

from mapreducelearnings_spark.queries import REGISTRY
from mapreducelearnings_spark.typelint import type_mismatches

from .conftest import SF_SMOKE


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_output_contract(name, spark, duck):
    df = REGISTRY[name].spark(spark, SF_SMOKE)
    complex_cols = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert complex_cols == [], (
        f"{name} returns complex-typed columns {complex_cols}; stringify "
        "them (array_join/to_json) so the driver canonicalizer can hash "
        "the result"
    )
    oracle = REGISTRY[name].oracle
    if oracle is not None:
        bad = type_mismatches(df, duck, oracle)
        assert bad == [], (
            f"{name}: output type classes differ (col, spark, oracle): "
            f"{bad} — the driver hashes typed values; cast the oracle "
            "(e.g. SUM -> CAST(... AS BIGINT))"
        )


def test_correctness_window_is_exactly_fifty():
    """The driver hashes REGISTRY[:50]; a window that silently grows
    past 50 would push its tail entries out of the driver's gate while
    the rotation comment still claims they're covered."""
    from mapreducelearnings_spark.queries import _CORRECTNESS_WINDOW, _TAIL, REGISTRY

    assert len(_CORRECTNESS_WINDOW) == 50
    assert len(_CORRECTNESS_WINDOW) + len(_TAIL) == len(REGISTRY)
    assert list(REGISTRY)[:50] == _CORRECTNESS_WINDOW


def test_coverage_index_cites_every_query():
    """Every registry entry must be cited (query:`name`
    convention) somewhere in COVERAGE.md, no citation may name a query
    that no longer exists, and no `<pkg-dir>/<module>.<symbol>` citation
    a symbol its module lacks — the mechanical guarantee behind the
    generated cross-index (tools/coverage_index.py)."""
    _, problems = _load_script("tools/coverage_index.py").build_table()
    assert problems == []


def test_coverage_index_flags_stale_symbol_citations(tmp_path, monkeypatch):
    """A `<pkg-dir>/<module>.<symbol>` citation must name an attribute
    of that package module; `.py` file citations and paths outside the
    package are not symbol citations."""
    mod = _load_script("tools/coverage_index.py")
    doc = tmp_path / "COVERAGE.md"
    doc.write_text(
        "| a | `operators/graph.pagerank_chain`, `operators/graph.py`, "
        "`tools/verify_all.sh` |\n"
        "| b | `operators/graph.pagerank`, `operators/nograph.sssp` |\n"
    )
    monkeypatch.setattr(mod, "COVERAGE_PATH", str(doc))
    assert mod.stale_symbol_citations() == [
        "COVERAGE.md cites unknown symbol `operators/graph.pagerank`",
        "COVERAGE.md cites `operators/nograph.sssp` of no module",
    ]


def test_coverage_index_reads_no_query_from_a_citation_note(
    tmp_path, monkeypatch
):
    """A backticked identifier inside a citation's `(…)` note is not a
    query name: only the names outside the parentheses are cited."""
    mod = _load_script("tools/coverage_index.py")
    doc = tmp_path / "COVERAGE.md"
    doc.write_text(
        "## §2.8 Graph\n"
        "| a | queries: `pagerank_idfilter` (via `pagerank_standard`), "
        "`sssp_paths` |\n"
    )
    monkeypatch.setattr(mod, "COVERAGE_PATH", str(doc))
    assert mod.parse_coverage_sections() == {
        "pagerank_idfilter": {"§2.8"},
        "sssp_paths": {"§2.8"},
    }


def test_sweep_record_merge_semantics(tmp_path, monkeypatch):
    """SWEEPS.json merge rules (tools/check_oracles.record_sweep): a
    deeper-scale pass supersedes a shallower pass and is NOT
    overwritten by one; a FAIL always overwrites (stale green evidence
    is worse than a visible red)."""
    import json

    mod = _load_script("tools/check_oracles.py")
    monkeypatch.setattr(mod, "SWEEPS_PATH", str(tmp_path / "SWEEPS.json"))

    mod.record_sweep({"q": True}, "/root/testdata/sf0.01")
    mod.record_sweep({"q": True}, "/tmp/scale_smoke/sf0.3")
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"]["sf_dir"].endswith("sf0.3")

    # a shallower PASS must not clobber the deeper pass
    mod.record_sweep({"q": True}, "/root/testdata/sf0.001")
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"]["sf_dir"].endswith("sf0.3")

    # a FAIL at any scale always lands
    mod.record_sweep({"q": False}, "/root/testdata/sf0.001")
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"] == {
        "sf_dir": "/root/testdata/sf0.001",
        "scale": 0.001,
        "ts": log["q"]["ts"],
        "ok": False,
    }

    # and a subsequent pass recovers normally
    mod.record_sweep({"q": True}, "/root/testdata/sf0.01")
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"]["ok"] and log["q"]["sf_dir"].endswith("sf0.01")

    # the scale_smoke naming convention is sf0.<INTEGER MULT> of the
    # sf0.1 base — a decimal parse collapses 30x (sf0.30) onto 3x
    # (sf0.3) and ranks 10x (sf0.10) below both (ADVICE r9); pin the
    # disambiguation and that deep evidence survives shallower passes
    assert mod.scale_of("/tmp/scale_smoke/sf0.30") == pytest.approx(3.0)
    assert mod.scale_of("/tmp/scale_smoke/sf0.3") == pytest.approx(0.3)
    assert mod.scale_of("/tmp/scale_smoke/sf0.10") == pytest.approx(1.0)
    assert mod.scale_of("/root/testdata/sf0.01") == pytest.approx(0.01)

    mod.record_sweep({"q": True}, "/tmp/scale_smoke/sf0.30")
    mod.record_sweep({"q": True}, "/tmp/scale_smoke/sf0.3")  # 3x after 30x
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"]["sf_dir"].endswith("sf0.30"), (
        "a 3x pass overwrote the 30x record"
    )
    mod.record_sweep({"q": True}, "/tmp/scale_smoke/sf0.10")  # 10x < 30x
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"]["sf_dir"].endswith("sf0.30")
    assert log["q"]["scale"] == pytest.approx(3.0)

    # legacy records without the numeric field fall back to scale_of
    log["q"] = {"sf_dir": "/tmp/scale_smoke/sf0.30", "ts": "x", "ok": True}
    json.dump(log, open(mod.SWEEPS_PATH, "w"))
    mod.record_sweep({"q": True}, "/tmp/scale_smoke/sf0.3")
    log = json.load(open(mod.SWEEPS_PATH))
    assert log["q"]["sf_dir"].endswith("sf0.30")


def _load_script(relpath: str):
    path = pathlib.Path(__file__).resolve().parent.parent / relpath
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_script_query_lists_name_known_entries(monkeypatch):
    """Every query name the bench, the benchmark workloads and the audit
    tools list is a registered entry: a stale name (a deleted or renamed
    spec) would otherwise surface only as a KeyError in a manual run —
    or, for the benchmark, in a failed benchmark run."""
    import sys

    bench = _load_script("bench.py")
    smoke = _load_script("tools/scale_smoke.py")
    audit = _load_script("tools/plan_audit.py")
    # perfbench's modules import each other by bare name
    local = ("datagen", "gate", "reference", "workloads")
    fresh = [m for m in local if m not in sys.modules]
    monkeypatch.syspath_prepend(
        str(pathlib.Path(__file__).resolve().parent.parent / "perfbench")
    )
    try:
        work = importlib.import_module("workloads")
    finally:
        for m in fresh:
            sys.modules.pop(m, None)
    lists = {
        "bench.HEADLINE": bench.HEADLINE,
        "bench.SURFACE_TWINS": bench.SURFACE_TWINS,
        "scale_smoke.HEAVY": smoke.HEAVY,
        "plan_audit.QUADRATIC_ALLOWLIST": audit.QUADRATIC_ALLOWLIST,
        "plan_audit.BNLJ_BOUNDED_ALLOWLIST": audit.BNLJ_BOUNDED_ALLOWLIST,
        "plan_audit.PYTHON_EXEC_EXPECTED": audit.PYTHON_EXEC_EXPECTED,
        "workloads.RELATIONAL": work.RELATIONAL,
        "workloads.TRACE_EXTRAS": [op.name for op in work.TRACE_EXTRAS],
        "workloads.INDEX_CHAIN": [work.INDEX_CHAIN],
        "workloads.EXACT_TOPK": [work.EXACT_TOPK],
    }
    known = set(REGISTRY)
    stale = {
        where: sorted(set(names) - known)
        for where, names in lists.items()
        if set(names) - known
    }
    assert stale == {}, stale
