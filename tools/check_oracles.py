"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` against its
``oracle_sql()`` DuckDB twin at the given scale factor and compares:
row count, column names (sorted), and values (rows sorted, exact
equality — stricter than the driver's hash, so green here should mean
green there).

Every run also merges its per-query outcomes into ``SWEEPS.json`` at
the repo root ({query: {sf_dir, ts, ok}}), so the latest local-sweep
evidence per query is machine-readable (tools/coverage_index.py reads
it to build the COVERAGE.md cross-index).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import json
import math
import os
import sys
import time

# the checkout that holds this tool: its package, its SWEEPS.json
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SWEEPS_PATH = os.path.join(REPO, "SWEEPS.json")


def scale_of(d: str) -> float:
    """Numeric scale of an sf dir — UNAMBIGUOUS across the two naming
    conventions in play (ADVICE r9: a decimal parse maps the 30x smoke
    dir sf0.30 and the 3x dir sf0.3 to the same 0.3, and sf0.10 (10x)
    below both, so keep-deeper silently discarded deep evidence):

    - tools/scale_smoke.py dirs are named sf0.<mult> under a
      .../scale_smoke/ root and mean <mult> x the sf0.1 base, so the
      digits after "sf0." are an INTEGER multiplier: sf0.30 -> 3.0,
      sf0.10 -> 1.0, sf0.3 -> 0.3.
    - driver fixture dirs (/root/testdata/sf0.01 etc.) are plain
      decimal scale factors.
    """
    import re

    d = d.rstrip("/")
    base = d.rsplit("/", 1)[-1]
    if "scale_smoke" in d:
        m = re.fullmatch(r"sf0\.(\d+)", base)
        if m:
            return int(m.group(1)) * 0.1
    m = re.search(r"sf([0-9.]+)", base)
    try:
        return float(m.group(1)) if m else 0.0
    except ValueError:
        return 0.0


def record_sweep(results: dict[str, bool], sf_dir: str) -> None:
    """Merge this run's per-query pass/fail into SWEEPS.json. A deeper
    scale supersedes a shallower one only on pass; a FAIL always
    overwrites (stale green evidence is worse than a visible red).
    Each record stores its numeric ``scale`` so the comparison never
    re-parses an ambiguous dir name; records written before the field
    existed fall back to :func:`scale_of` on their stored dir."""
    try:
        with open(SWEEPS_PATH) as f:
            log = json.load(f)
    except (OSError, json.JSONDecodeError):
        log = {}

    scale = round(scale_of(sf_dir), 6)
    ts = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d")
    for name, ok in results.items():
        prev = log.get(name)
        keep_deeper = (
            ok
            and prev is not None
            and prev.get("ok")
            and prev.get("scale", scale_of(prev.get("sf_dir", ""))) > scale
        )
        if not keep_deeper:
            log[name] = {"sf_dir": sf_dir, "scale": scale, "ts": ts, "ok": ok}
    tmp = SWEEPS_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f, indent=1, sort_keys=True)
    os.replace(tmp, SWEEPS_PATH)


def normalize(rows, colnames):
    """Sort columns by name, then sort rows for order-insensitive compare."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if math.isinf(v):
                return "inf" if v > 0 else "-inf"
            return v
        if isinstance(v, (list, tuple)):
            return tuple(norm_val(x) for x in v)
        if isinstance(v, bytes):
            return v.hex()
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def _rss_gb() -> float:
    """This process's resident set in GiB (DuckDB is in-process, so a
    runaway oracle shows up here; the Spark JVM is a child and does
    not). Printed per query so an OOM in a long sweep is attributable
    to the query that grew it, not just the one that died."""
    with open("/proc/self/statm") as f:
        pages = int(f.read().split()[1])
    return pages * 4096 / (1 << 30)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from mapreducelearnings_spark.session import get_spark
    from mapreducelearnings_spark.typelint import type_mismatches

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Defense in depth for scaled-dir sweeps: DuckDB's default memory
    # limit is ~80% of RAM, which, sharing the host with the Spark
    # driver JVM, let one pathological oracle plan OOM the whole sweep
    # at the 3x dir (r8: the correlated asof subquery hit +64 GB before
    # it was rewritten as a join). Cap the oracle engine and give it a
    # spill directory so a heavy plan gets slow, not fatal. The cap is
    # derived from detected RAM (ADVICE r8: a hardcoded 24GB would
    # RAISE the limit above DuckDB's ~80% default on small hosts):
    # min(24GB, 50% of total), floored at 1GB.
    total_gb = 64.0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    break
    except OSError:
        pass
    cap_gb = max(1, int(min(24, total_gb * 0.5)))
    con.execute(f"SET memory_limit='{cap_gb}GB'")
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, skipped = [], []
    outcomes: dict[str, bool] = {}
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        outcomes[name] = False
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            skipped.append(name)
            # rows-only entries have no oracle verdict to record
            outcomes.pop(name)
            print(f"skip  {name}: no oracle (rows-only) rows={len(srows)}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"cols spark={sorted(scols)} oracle={sorted(ocols)}"))
            print(f"FAIL  {name}: column mismatch {sorted(scols)} vs {sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rowcount spark={len(srows)} oracle={len(orows)}"))
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        try:
            bad_types = type_mismatches(sdf, con, oracles[name])
        except Exception as e:  # DESCRIBE should never fail if execute passed
            bad_types = []
            print(f"warn  {name}: DESCRIBE failed: {e}")
        if bad_types:
            failures.append((name, f"type classes differ: {bad_types}"))
            print(
                f"FAIL  {name}: output type classes differ "
                f"(col, spark, oracle): {bad_types} — the driver hashes "
                "TYPED values; cast the oracle (e.g. SUM→CAST(... AS BIGINT))"
            )
            continue
        ns, no = normalize(srows, scols), normalize(orows, ocols)
        del srows, orows
        if ns != no:
            bad = next(i for i, (a, b) in enumerate(zip(ns, no)) if a != b)
            failures.append((name, f"values differ at sorted row {bad}"))
            print(f"FAIL  {name}: values differ; first diff row {bad}:")
            print(f"      spark : {ns[bad]}")
            print(f"      oracle: {no[bad]}")
            continue
        outcomes[name] = True
        print(f"ok    {name}  rows={len(ns)}  ({dt:.1f}s)  rss={_rss_gb():.1f}g")

    record_sweep(outcomes, sf_dir)
    print(
        f"\n{checked - len(failures) - len(skipped)} ok, "
        f"{len(failures)} failed, {len(skipped)} rows-only "
        f"of {checked} checked ({len(qs)} registered)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
