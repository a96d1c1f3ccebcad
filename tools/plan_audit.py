"""Registry-wide physical-plan hygiene audit.

Builds every registered query at the given sf_dir and inspects its
FORMATTED plan for the anti-patterns that break at 100 TB:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — quadratic plans.
  Hard FAIL unless the query name is in the documented allowlist.
- per-plan ``Exchange`` count — every exchange is a full shuffle of the
  operator's input; reported so regressions are visible round-over-round.
- parquet ``ReadSchema`` width — a scan that reads every column for a
  narrow projection lost column pruning; reported per scan.

Prints one summary line per query and writes PLANS.md (markdown report)
so plan hygiene is a committed, diffable artifact, not a one-off
``.explain()`` in a scratch session.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose CartesianProduct shape would be deliberate and documented.
# (None today: the brute-force recall oracle lives only in tests, and the
# banded interval join exists precisely to avoid BNLJ.)
QUADRATIC_ALLOWLIST: frozenset[str] = frozenset()

# BroadcastNestedLoopJoin with a BOUNDED build side is the CORRECT plan
# for scalar-subquery broadcasts (1-row aggregates joined with no key)
# and k-row probe/constant sides — the loop is linear in the stream
# side, not quadratic. Every entry here is one of those documented
# idioms; a BNLJ in any query NOT listed is a regression (an accidental
# no-equi-key join of two data-sized tables) and fails the audit.
BNLJ_BOUNDED_ALLOWLIST = frozenset(
    {
        # 1-row span/threshold/constant scalar broadcasts
        "events_hourly_gapfill",   # min/max ts span row -> calendar grid
        "idle_customers",          # scalar avg(balance) threshold
        "important_parts",         # scalar sum threshold re-aggregate
        "token_doc_frequency",     # 1-row corpus size constant
        "bm25_topk",               # 1-row df/corpus constants
        "zorder_values",           # 1-row min/max normalization bounds
        "source_mixture_weights",  # 1-row normalization total
        "funnel_conversion",       # 1-row step-count constants
        "semdedup_keep",           # 1-row corpus stats for cell sizing
        "cooccurrence_pmi",        # 1-row (Nw, Np) totals for the lift
        # k-row (<=8) query/probe sides broadcast into the corpus scan
        "similarity_topk", "similarity_topk_q8",
        "ann_ivf_topk", "ann_ivf_trained_topk",
        # r12: filtered vector search — same 8-row probe cross join;
        # the metadata filter itself is an equi semi join, not BNLJ
        "ann_ivf_filtered_topk",
        # r13: corpus-overlap sketch — the <=k-row (64) reference
        # sketch replicated across the <=5 distinct group values by a
        # bounded cross join; every other join in the plan is an equi
        # join over k-bounded sketch frames
        "distinct_kmv_jaccard",
        # r14: the directional-overlap sibling — identical bounded
        # cross join (<=64-row reference sketch x <=5 group values);
        # the per-side estimates join back by equi keys
        "distinct_kmv_containment",
        # round-10: same k-row broadcast probe/centroid idiom
        "ann_ivf_pq64_residual_topk",
        "ann_index_append_topk",
        # round-11: the SLA read path — same k-row broadcast probe into
        # the partition-pruned stored index
        "ann_index_sla_topk",
    }
)

# Python-execution rows (ArrowEvalPython / FlatMapGroupsInPandas / BatchEvalPython
# / MapInPandas / PythonUDTF) that are the documented API surface or an
# Arrow-batched pipeline stage, not an accidental row-at-a-time fallback.
PYTHON_EXEC_EXPECTED = frozenset(
    {
        "udf_discounted_price",      # pandas_udf surface demo
        "udaf_weighted_avg",         # GROUPED_AGG pandas UDAF
        "sentence_split_udtf",       # class-based Python UDTF surface twin
        "multimodal_meta",           # mapInPandas/mapInArrow feature extraction
        "asof_latest_order_cogroup", # cogroup applyInPandas twin
        "kmeans_followers",          # driver loop uses pandas literals only
    }
)

PY_EXEC_RE = re.compile(
    "ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas"
    "|PythonMapInArrow|BatchEvalPythonUDTF|ArrowEvalPythonUDTF"
)


def audit_one(name: str, df) -> dict:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    scan_widths = [len(s.split(",")) if s else 0 for s in scans]
    return {
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
        "exchanges": plan.count("- Exchange ("),
        "python_exec": sorted(set(PY_EXEC_RE.findall(plan))),
        "scan_widths": scan_widths,
        "take_ordered": "TakeOrderedAndProject" in plan,
    }


def main() -> int:
    from mapreducelearnings_spark.queries import REGISTRY
    from mapreducelearnings_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")

    rows, failures = [], []
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            info = audit_one(name, spec.spark(spark, sf_dir))
        except Exception as e:  # pragma: no cover - audit robustness
            failures.append((name, f"build error: {e}"))
            print(f"FAIL  {name}: build error: {str(e)[:120]}")
            continue
        bad = []
        if info["cartesian"] and name not in QUADRATIC_ALLOWLIST:
            bad.append("CartesianProduct")
        if info["bnlj"] and name not in BNLJ_BOUNDED_ALLOWLIST:
            bad.append("BroadcastNestedLoopJoin (not a documented bounded-build idiom)")
        if info["python_exec"] and name not in PYTHON_EXEC_EXPECTED:
            bad.append(f"unexpected Python exec: {info['python_exec']}")
        status = "FAIL" if bad else "ok"
        if bad:
            failures.append((name, "; ".join(bad)))
        rows.append((name, info, status))
        print(
            f"{status:4}  {name}: exchanges={info['exchanges']} "
            f"scans={info['scan_widths']}"
            + (f" python={info['python_exec']}" if info["python_exec"] else "")
            + (f"  <-- {'; '.join(bad)}" if bad else "")
        )

    if only:
        # Filtered runs are for iterating on one query; never clobber
        # the committed registry-wide PLANS.md with a partial report.
        print(f"\n{len(rows)} audited, {len(failures)} flagged "
              "(filtered run: PLANS.md not rewritten)")
        return 1 if failures else 0

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(
            "# PLANS — registry-wide physical-plan hygiene "
            f"(sf_dir={sf_dir})\n\n"
            "Generated by `tools/plan_audit.py`. Rules: no CartesianProduct /\n"
            "BroadcastNestedLoopJoin outside the (empty) allowlist; Python\n"
            "execution operators only where they ARE the documented surface;\n"
            "exchange counts and scan widths recorded for round-over-round\n"
            "diffing (every exchange is a shuffle; a wide scan under a narrow\n"
            "projection lost column pruning).\n\n"
            "| query | exchanges | scan widths | python exec | top-k plan | status |\n"
            "|---|---|---|---|---|---|\n"
        )
        for name, info, status in rows:
            f.write(
                f"| {name} | {info['exchanges']} | "
                f"{','.join(map(str, info['scan_widths'])) or '-'} | "
                f"{', '.join(info['python_exec']) or '-'} | "
                f"{'TakeOrdered' if info['take_ordered'] else '-'} | "
                f"{status} |\n"
            )
        if failures:
            f.write("\n## Failures\n\n")
            for n, why in failures:
                f.write(f"- {n}: {why}\n")
    print(f"\n{len(rows)} audited, {len(failures)} flagged -> {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
