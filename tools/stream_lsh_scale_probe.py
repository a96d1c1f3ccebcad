"""Targeted 10x re-measure of dedup_stream_lsh (VERDICT r08 Next #2).

Round 8's 10x slice showed the streaming LSH drain growing 6.05x at
10x data — the only superlinear row — while its batch twin grew 0.84x.
Diagnosis: the drain pinned spark.sql.shuffle.partitions=8, and a
stream-stream join allocates one state store per shuffle partition per
micro-batch; at 50k docs each store held ~6k docs of band state and
the per-store sort/merge work grew quadratically in occupancy. The fix
(streaming/windows.py run_streaming_lsh_to_memory) sizes the knob from
the source row count: ~2 000 docs of state per store, clamped [8, 32].

This probe times ONLY that query (plus its batch twin as the linearity
yardstick) at base sf0.1 and a 10x dir, fresh-session per measurement
so neither run eats the other's JVM residue, and prints one JSON line.

Usage: python tools/stream_lsh_scale_probe.py [mult] [out_root]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_SF = "/root/testdata/sf0.1"

_CHILD = r"""
import sys, time
sys.path.insert(0, sys.argv[1])
from mapreducelearnings_spark.session import get_spark
from mapreducelearnings_spark.queries import REGISTRY

sf_dir, name = sys.argv[2], sys.argv[3]
spark = get_spark("stream-lsh-probe", shuffle_partitions=32)
t0 = time.perf_counter()
n = REGISTRY[name].spark(spark, sf_dir).count()
dt = time.perf_counter() - t0
print(f"RESULT {name} {dt:.3f} {n}", flush=True)
spark.stop()
"""


def run_one(sf_dir: str, name: str) -> tuple[float, int]:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, sf_dir, name],
        capture_output=True,
        text=True,
        check=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            _, _, dt, n = line.split()
            return float(dt), int(n)
    raise RuntimeError(f"no RESULT line for {name}:\n{out.stdout}\n{out.stderr}")


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_smoke"
    scaled = os.path.join(out_root, f"sf0.{mult}")
    from tools.scale_smoke import build_scaled_dir

    build_scaled_dir(scaled, mult)

    results: dict[str, dict] = {}
    for name in ("dedup_stream_lsh", "dedup_minhash_lsh"):
        row = {}
        for label, sf_dir in (("base", BASE_SF), ("scaled", scaled)):
            dt, n = run_one(sf_dir, name)
            row[label] = round(dt, 3)
            row[f"{label}_rows"] = n
            print(f"{name:20s} {label:6s} {dt:7.2f}s rows={n}", flush=True)
        row["ratio"] = round(row["scaled"] / max(row["base"], 1e-9), 2)
        results[name] = row
        print(f"{name:20s} ratio={row['ratio']:.2f} (data {mult}x)", flush=True)

    print(json.dumps({"mult": mult, "queries": results}))


if __name__ == "__main__":
    main()
