"""Mechanical registry → SURVEY §2 cross-index (VERDICT r08 Next #8).

Builds the one table a judge needs to verify coverage claims without
reading prose: for every registry query —

  query name → the COVERAGE.md §2 rows that cite it as evidence →
  latest driver round + verdict (CORRECTNESS_r*.json) →
  latest local oracle sweep (SWEEPS.json, written by check_oracles).

The §2 mapping is parsed from COVERAGE.md itself (the `query:`name``
/ `queries:`a`, `b`` citation convention), so
the index can never drift from the document it indexes. The tool also
lints both directions: registry entries cited nowhere in a §2 row, and
citations naming queries that no longer exist; and it flags every
`<pkg-dir>/<module>.<symbol>` citation whose symbol the module lacks.

Usage:
  python tools/coverage_index.py          # lint + print table to stdout
  python tools/coverage_index.py --write  # also splice the table into
                                          # COVERAGE.md between the
                                          # coverage-index markers
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

# the checkout that holds this tool: its package and its documents
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COVERAGE_PATH = os.path.join(REPO, "COVERAGE.md")
SWEEPS_PATH = os.path.join(REPO, "SWEEPS.json")
BEGIN = "<!-- coverage-index:begin (generated by tools/coverage_index.py) -->"
END = "<!-- coverage-index:end -->"

# Citation tokens: everything backticked from the token up to the next
# cell boundary / sentence break belongs to the citation.
_CITE = re.compile(
    r"(?:query|queries):"
    r"((?:\s*`[a-z0-9_*]+`(?:\s*\([^)|]*\))?,?)+)"
)
_NAME = re.compile(r"`([a-z0-9_*]+)`")
# a citation's `(…)` note may backtick other identifiers: not query names
_NOTE = re.compile(r"\([^)|]*\)")
# `<pkg-dir>/<module>.<symbol>` citations of package code; a `.py` file
# citation names no symbol
_SYMBOL = re.compile(r"`([a-z_]+)/([a-z0-9_]+)\.(\w+)")


def parse_coverage_sections() -> dict[str, set[str]]:
    """name (may contain a trailing ``*`` wildcard) -> set of §2 section
    titles whose tables cite it."""
    cites: dict[str, set[str]] = {}
    section = None
    with open(COVERAGE_PATH) as f:
        for line in f:
            if line.startswith("## "):
                # every section counts — the §2 inventory tables are the
                # primary index, but the decision-support pack and the
                # round-delta sections carry the evidence rows for
                # entries added after the inventory was first written
                section = line[3:].strip()
                continue
            if section is None:
                continue
            for m in _CITE.finditer(line):
                for name in _NAME.findall(_NOTE.sub("", m.group(1))):
                    # short label: "§2.4" for inventory sections, the
                    # first two words otherwise ("Round 8", "Extras
                    # beyond", "Decision-support pack")
                    if section.startswith("§"):
                        label = section.split(" ")[0].rstrip(":")
                    else:
                        label = " ".join(section.split(" ")[:2]).rstrip(":")
                    cites.setdefault(name, set()).add(label)
    return cites


def stale_symbol_citations() -> list[str]:
    """COVERAGE.md's package-symbol citations that name no attribute of
    their module (a deleted or renamed function)."""
    import importlib

    problems = []
    with open(COVERAGE_PATH) as f:
        cited = set(_SYMBOL.findall(f.read()))
    for pkg_dir, module, symbol in sorted(cited):
        pkg = os.path.join(REPO, "mapreducelearnings_spark", pkg_dir)
        if symbol == "py" or not os.path.isdir(pkg):
            continue
        name = f"{pkg_dir}/{module}.{symbol}"
        if not os.path.isfile(os.path.join(pkg, f"{module}.py")):
            problems.append(f"COVERAGE.md cites `{name}` of no module")
        elif not hasattr(
            importlib.import_module(f"mapreducelearnings_spark.{pkg_dir}.{module}"),
            symbol,
        ):
            problems.append(f"COVERAGE.md cites unknown symbol `{name}`")
    return problems


def expand_wildcards(cites: dict[str, set[str]], known: list[str]) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    unmatched: list[str] = []
    for pat, secs in cites.items():
        if "*" in pat:
            hits = [n for n in known if re.fullmatch(pat.replace("*", ".*"), n)]
            if not hits:
                unmatched.append(pat)
            for n in hits:
                out.setdefault(n, set()).update(secs)
        else:
            out.setdefault(pat, set()).update(secs)
    for pat in unmatched:
        out.setdefault(pat, set()).update(cites[pat])
    return out


def latest_driver_rows() -> dict[str, tuple[int, bool]]:
    """name -> (latest round with a driver row, green?)."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            latest[name] = (rnd, green)
    return latest


def local_sweeps() -> dict[str, dict]:
    try:
        return json.load(open(SWEEPS_PATH))
    except (OSError, json.JSONDecodeError):
        return {}


def build_table() -> tuple[str, list[str]]:
    import __spark_entry__  # noqa: F401  (populates the registries)
    from mapreducelearnings_spark.queries import REGISTRY

    known = list(REGISTRY)
    cites = expand_wildcards(parse_coverage_sections(), known)
    driver = latest_driver_rows()
    sweeps = local_sweeps()

    problems = stale_symbol_citations()
    for name in cites:
        if name not in known:
            problems.append(f"COVERAGE.md cites unknown query `{name}`")
    for name in known:
        if name not in cites:
            problems.append(f"registry entry `{name}` cited in no §2/Extras row")

    lines = [
        BEGIN,
        "",
        "## Registry → §2 cross-index (generated)",
        "",
        "One row per registry query: which §2 inventory rows cite",
        "it, its latest driver CORRECTNESS round + verdict, and the latest",
        "local oracle sweep (scale + date, from SWEEPS.json). Regenerate:",
        "`python tools/coverage_index.py --write`.",
        "",
        "| query | §2 rows citing it | latest driver row | latest local sweep |",
        "|---|---|---|---|",
    ]
    for name in sorted(known):
        secs = ", ".join(sorted(cites.get(name, set()))) or "—"
        if name in driver:
            rnd, green = driver[name]
            drow = f"r{rnd} {'green' if green else 'RED'}"
        else:
            drow = "none yet"
        sw = sweeps.get(name)
        if sw:
            scale = sw["sf_dir"].rstrip("/").rsplit("/", 1)[-1]
            srow = f"{scale} {'ok' if sw['ok'] else 'FAIL'} ({sw['ts']})"
        else:
            srow = "—"
        lines.append(f"| `{name}` | {secs} | {drow} | {srow} |")
    lines += ["", END]
    return "\n".join(lines), problems


def main() -> int:
    table, problems = build_table()
    for p in problems:
        print(f"WARN  {p}")
    if "--write" in sys.argv:
        text = open(COVERAGE_PATH).read()
        if BEGIN in text and END in text:
            pre = text.split(BEGIN)[0]
            post = text.split(END, 1)[1]
            text = pre + table + post
        else:
            text = text.rstrip() + "\n\n" + table + "\n"
        with open(COVERAGE_PATH, "w") as f:
            f.write(text)
        print(f"wrote cross-index into {COVERAGE_PATH}")
    else:
        print(table)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
