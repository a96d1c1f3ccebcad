"""Closed-loop benchmark: one client, one Spark session, one workload.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

The run generates its inputs from the seed (untimed), sets the session up
several times (the last set-up is kept), then executes whole rounds of the
workload's ops: each op starts only after the previous one has finished
and the session's cached blocks were dropped. Every output is checked
against a DuckDB oracle or a pure-Python reference after the timed loop.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same rounds untraced, then again with the Spark event log and call spans
on, and prints the per-layer metrics plus the tracing overhead. The last
line of standard output is always the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
APP = "perfbench"
#: set-ups per run; ``setup_s`` is their median
SETUPS = 5
#: job group of work that is not part of any timed execution
UNTIMED = "untimed"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def locate_repo() -> str:
    """The working directory must be a checkout holding the package
    source; the package must be imported from there, not from elsewhere."""
    root = os.getcwd()
    for need in ("mapreducelearnings_spark/__init__.py", "tools/check_oracles.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{root} has no {need}; run from the repository root")
    sys.path[:0] = [root, HERE]
    import mapreducelearnings_spark

    pkg_root = os.path.dirname(os.path.dirname(mapreducelearnings_spark.__file__))
    if os.path.realpath(pkg_root) != os.path.realpath(root):
        fail(f"package imported from {pkg_root}, not from {root}")
    return root


@dataclass
class Execution:
    op: object
    #: wall time with hypervisor steal removed (stats.Stopwatch)
    wall: float = 0.0
    raw_wall: float = 0.0
    rows: list | None = None
    cols: list | None = None
    error: str | None = None
    plan_ms: float = 0.0
    verdict: str | None = None


class Bench:
    def __init__(self, args):
        import stats
        import workloads

        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.work = os.path.join(HERE, ".work")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.tmp = os.path.join(self.run_dir, "tmp")
        self.local = os.path.join(self.run_dir, "spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d)
        # everything the program, Spark and its Python workers write
        # lands inside the run directory
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # every JVM, the spark-submit launcher too, writes a perf data file
        # under /tmp whatever its tmpdir unless told not to
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.cpus = os.cpu_count() or 1
        self.heap_gb = max(1, min(4, stats.total_ram_bytes() // (6 << 30)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap_gb}g"
        self.spark = None

    # -- session ------------------------------------------------------------

    def session_conf(self, event_log: str | None = None) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.hadoop.hadoop.tmp.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed, pre-touched heap: the JVM's adaptive heap sizing
            # would otherwise make peak RSS swing from run to run
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.heap_gb}g -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.run_dir}"
            ),
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self, event_log: str | None = None):
        from mapreducelearnings_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            APP, master=f"local[{self.cpus}]", extra_conf=self.session_conf(event_log)
        )
        self.ctx.spark = self.spark

    def set_up(self) -> dict:
        """``SETUPS`` set-ups, each a session build plus the untimed warm-up
        queries; the first launches the JVM, later ones rebuild the session
        on it. The last session stays open for the measured rounds."""
        import stats

        starts, warms, raw = [], [], []
        for _ in range(SETUPS):
            watch = stats.Stopwatch()
            self.start_session()
            start_raw, start = watch.stop()
            watch = stats.Stopwatch()
            self.warm_up()
            warm_raw, warm = watch.stop()
            starts.append(start)
            warms.append(warm)
            raw.append(start_raw + warm_raw)
        totals = [s + w for s, w in zip(starts, warms)]
        return {
            # warm-up right after a session restart on the warm JVM: the
            # base the traced warm-up is compared with
            "warmup_restart_s": statistics.median(warms[1:]),
            "setup_s": statistics.median(totals),
            "session.start_s": statistics.median(starts),
            "session.warmup_s": statistics.median(warms),
            "setups_s": totals,
            "setups_raw_s": raw,
        }

    def warm_up(self) -> None:
        import workloads
        from mapreducelearnings_spark.queries import REGISTRY

        self.spark.sparkContext.setJobGroup(UNTIMED, "warm-up")
        for name in workloads.WARMUP_QUERIES:
            REGISTRY[name].spark(self.spark, self.ctx.sf_dir).collect()

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- measured loop ------------------------------------------------------

    def rounds(self) -> int:
        return max(1, round(self.args.seconds / self.wl.nominal_round_s))

    def execute(self, op, tracer, plan: bool = False) -> Execution:
        """One execution: build and action timed, checks data kept for the
        gate, then the session's cached blocks dropped (untimed)."""
        import stats
        import workloads
        from mapreducelearnings_spark import queries

        ex = Execution(op)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"exec-{op.name}", op.name)
        watch = stats.Stopwatch()
        with tracer.span("exec", op=op.name, layer=op.layer) as root:
            try:
                with tracer.span("queries.build"):
                    df = op.build(self.ctx)
                with tracer.span("queries.action"):
                    rows = op.action(df, self.ctx)
            except Exception as e:  # a failed execution is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                ex.error = f"{type(e).__name__}: {e}"[:300]
        ex.raw_wall, ex.wall = watch.stop()
        sc.setJobGroup(UNTIMED, "between executions")
        if ex.error is None:
            ex.rows = [tuple(r) for r in rows]
            ex.cols = list(df.columns)
            if plan:
                ex.plan_ms = plan_ms(df)
        if op.name == workloads.INDEX_CHAIN:
            self.ctx.phase_times.append(
                dict(queries.PHASE_TIMES.get(workloads.INDEX_CHAIN, {}))
            )
        self.spark.catalog.clearCache()
        return ex

    def run_pass(self, tracer, plan: bool = False) -> tuple[list[Execution], tuple]:
        """Whole rounds, closed loop. Returns the executions and the loop's
        ``(wall, unstolen)`` time (executions plus the cache drops between
        them)."""
        import numpy as np

        import stats

        rng = np.random.default_rng(self.args.seed)
        ops = self.wl.ops
        execs: list[Execution] = []
        watch = stats.Stopwatch()
        for _ in range(self.rounds()):
            order = rng.permutation(len(ops)) if self.wl.shuffle else range(len(ops))
            execs += [self.execute(ops[i], tracer, plan) for i in order]
        return execs, watch.stop()

    def query_samples(self, execs: list[Execution], field: str) -> list:
        """``(query, seconds)`` latency samples: one per execution, or one
        per round when the workload's round is its query."""
        samples = [(ex.op.name, getattr(ex, field)) for ex in execs]
        if not self.wl.round_is_query:
            return samples
        n = len(self.wl.ops)
        return [
            ("round", sum(s for _, s in samples[i : i + n]))
            for i in range(0, len(samples), n)
        ]

    def verify(self, execs: list[Execution]) -> None:
        for ex in execs:
            ex.verdict = ex.error or self.checks[ex.op.name](ex.rows, ex.cols)

    # -- top level ----------------------------------------------------------

    def prepare_inputs(self) -> None:
        import datagen
        import workloads
        from workloads import Ctx

        sf_dir = os.path.join(
            self.work, f"tables-sf{workloads.TABLE_SF}-s{workloads.TABLE_SEED}"
        )
        datagen.write_tables(sf_dir, workloads.TABLE_SF, workloads.TABLE_SEED)
        self.ctx = Ctx(spark=None, sf_dir=sf_dir, work=self.run_dir, phase_times=[])
        self.checks = {}
        if self.wl.uses_graph:
            self.ctx.source, self.checks = workloads.prepare_graph(
                self.run_dir, self.args.seed
            )
        ops = self.wl.ops + (self.wl.trace_extras if self.args.trace else ())
        names = [op.name for op in ops if op.registry]
        if any(op.name == workloads.INDEX_CHAIN for op in ops):
            names.append(workloads.EXACT_TOPK)
        self.checks.update(workloads.oracle_checks(sf_dir, names))

    def run(self) -> dict:
        import stats
        from spans import Tracer

        host_before = stats.host_conditions()
        ticks_before = stats.cpu_ticks()
        t_prep = time.perf_counter()
        self.prepare_inputs()
        prep_s = time.perf_counter() - t_prep
        try:
            setup = self.set_up()
            jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
            if self.args.trace:
                layer, execs = self.traced_pass(setup["warmup_restart_s"])
            else:
                execs, (raw_wall, wall) = self.run_pass(Tracer())
            rss = stats.peak_rss_bytes() + stats.peak_rss_bytes(jvm_pid)
        finally:
            self.shutdown()
        self.verify(execs)
        failed = [ex for ex in execs if ex.verdict is not None]
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "setup": "closed loop, 1 client, whole rounds; cache dropped after each execution",
            "rounds": self.rounds(),
            "executions": len(execs),
            "input_prep_s": prep_s,
            "host": {
                "nproc": self.cpus,
                "master": f"local[{self.cpus}]",
                "driver_heap": f"{self.heap_gb}g",
                "before": host_before,
                "after": stats.host_conditions(),
                "steal_share": stats.steal_share(ticks_before, stats.cpu_ticks()),
            },
            "setups_s": setup["setups_s"],
            "setups_raw_s": setup["setups_raw_s"],
            "failures": [(ex.op.name, ex.verdict) for ex in failed],
        }
        if self.args.trace:
            metrics = {**layer, "session.start_s": setup["session.start_s"],
                       "session.warmup_s": setup["session.warmup_s"]}
            report["spans"] = os.path.relpath(
                os.path.join(self.work, f"spans-{self.args.workload}-{self.args.seed}.jsonl"))
        else:
            samples = self.query_samples(execs, "wall")
            lat = stats.latency_summary(samples)
            report["latency"] = lat
            report["failed_share"] = len(failed) / len(execs)
            metrics = {
                "setup_s": setup["setup_s"],
                "throughput_qpm": 60.0 * len(samples) / wall,
                "latency_p50_s": lat["latency_p50_s"],
                "latency_tail_s": lat["latency_tail_s"],
                "latency_geomean_s": lat["latency_geomean_s"],
                "peak_rss_mb": rss / 1e6,
            }
            report["raw"] = {
                "loop_s": raw_wall,
                "throughput_qpm": 60.0 * len(samples) / raw_wall,
                **stats.latency_summary(self.query_samples(execs, "raw_wall")),
            }
            report["per_query_s"] = {}
            report["per_query_raw_s"] = {}
            for ex in execs:
                report["per_query_s"].setdefault(ex.op.name, []).append(ex.wall)
                report["per_query_raw_s"].setdefault(ex.op.name, []).append(ex.raw_wall)
        return {"report": report, "metrics": metrics, "attempted": len(execs),
                "failed": len(failed)}

    def traced_pass(self, warmup_base_s: float) -> tuple[dict, list[Execution]]:
        """The rounds on a fresh session with the event log on and the
        package's layer entry points wrapped in spans, then the workload's
        trace-only ops once. The tracing overhead is measured on the
        warm-up queries: first thing on the traced session, against the
        same queries first thing on the untraced restarted sessions of the
        set-up."""
        import gate
        import spans as tr
        import stats
        import workloads
        from mapreducelearnings_spark.queries import REGISTRY

        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir)
        self.start_session(event_log=log_dir)
        tracer = tr.Tracer()
        index_bytes = []
        with tr.Instrumenter(tracer, "mapreducelearnings_spark") as inst:
            instrument(inst, index_bytes)
            watch = stats.Stopwatch()
            self.warm_up()
            _, warmup_traced_s = watch.stop()
            execs, _ = self.run_pass(tracer, plan=True)
            execs += [self.execute(op, tracer, plan=True) for op in self.wl.trace_extras]
        phases = self.ctx.phase_times

        recall = 0.0
        chain = [ex for ex in execs if ex.op.name == workloads.INDEX_CHAIN and ex.rows]
        if chain:
            self.spark.sparkContext.setJobGroup(UNTIMED, "recall base")
            exact_df = REGISTRY[workloads.EXACT_TOPK].spark(self.spark, self.ctx.sf_dir)
            exact = workloads.topk_pairs(exact_df.collect(), exact_df.columns)
            recall = statistics.mean(
                gate.recall(workloads.topk_pairs(ex.rows, ex.cols), exact)
                for ex in chain
            )
        self.spark.stop()  # closes the event log; the JVM stays up
        self.spark = None
        spark_totals = tr.event_log_totals(log_dir, UNTIMED)
        tracer.dump(os.path.join(
            self.work, f"spans-{self.args.workload}-{self.args.seed}.jsonl"))

        def by_layer(name):
            return sum(s.duration for s in tracer.spans
                       if s.name == "exec" and s.attrs.get("layer") == name)

        layer = {
            "trace.overhead_pct": 100.0 * (warmup_traced_s / warmup_base_s - 1.0),
            "queries.build_s": tracer.total("queries.build"),
            "queries.action_s": tracer.total("queries.action"),
            "queries.plan_ms": sum(ex.plan_ms for ex in execs),
            "catalog.load_s": tracer.total("catalog.load"),
            "sources.edge_ingest_s": by_layer("sources.edge_ingest"),
            "sources.edge_rows": sum(
                ex.rows[0][0] for ex in execs
                if ex.op.layer == "sources.edge_ingest" and ex.rows
            ),
            "operators.graph.pagerank_s": by_layer("operators.graph.pagerank"),
            "operators.graph.sssp_s": by_layer("operators.graph.sssp"),
            "operators.graph.cc_s": by_layer("operators.graph.cc"),
            "operators.graph.triangles_s": by_layer("operators.graph.triangles"),
            "operators.kmeans_s": by_layer("operators.kmeans"),
            "operators.relational_s": by_layer("operators.relational"),
            "plans.iterate_s": tracer.total("plans.iterate", self_only=True),
            "pipeline.simsearch.index_build_s": tracer.total("index_build"),
            "pipeline.simsearch.index_append_s": tracer.total("index_append"),
            "pipeline.simsearch.index_compact_s": tracer.total("index_compact"),
            "pipeline.simsearch.index_query_s": sum(
                p.get("query_sec", 0.0) for p in phases
            ),
            "pipeline.simsearch.index_bytes": max(index_bytes, default=0),
            "pipeline.simsearch.recall_at_5": recall,
            "pipeline.dedup_s": by_layer("pipeline.dedup"),
            "pipeline.bpe_s": by_layer("pipeline.bpe"),
            "pipeline.curation_s": by_layer("pipeline.curation"),
            "streaming.drain_s": tracer.total("streaming.drain"),
            **spark_totals,
        }
        return layer, execs


def instrument(inst, index_bytes: list) -> None:
    """Spans around the layer entry points that do eager work."""
    from importlib import import_module

    import spans as tr

    def module(name):
        return import_module(f"mapreducelearnings_spark.{name}")

    def record_bytes(span, args, kwargs):
        index_bytes.append(tr.dir_bytes(args[1]))

    simsearch = module("pipeline.simsearch")
    inst.wrap(module("catalog").load_table, "catalog.load")
    inst.wrap(module("plans.iterate").iterate, "plans.iterate")
    inst.wrap(simsearch.ann_index_write, "index_build")
    inst.wrap(simsearch.ann_index_append, "index_append")
    inst.wrap(simsearch.ann_index_compact, "index_compact", after=record_bytes)
    for name, fn in vars(module("streaming.windows")).items():
        if name.startswith("run_") and callable(fn):
            inst.wrap(fn, "streaming.drain")


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s query."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(
            phases.apply(k).durationMs()
            for k in ("analysis", "optimization", "planning")
            if phases.contains(k)
        )
    )


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["relational", "follower_graph"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_qpm": "1/min", "_bytes": "bytes",
         "_pct": "%"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("recall_at_5") else "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    locate_repo()
    bench = Bench(args)
    try:
        out = bench.run()
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    report = out["report"]
    print("report " + json.dumps(report, default=str))
    if not args.trace:
        lat = report["latency"]
        print(f"failed_share {report['failed_share']:.4f} ratio")
        print(f"latency_tail_s is p{lat['tail_percentile']:.1f} of "
              f"{lat['samples']} samples ({lat['tail_samples_beyond']} beyond)")
    metrics = {k: {"value": float(v), "unit": unit_of(k)}
               for k, v in out["metrics"].items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
