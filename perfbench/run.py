"""Closed-loop, layer-attributed benchmark of pandasql_spark.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

One client, one process, ``local[N]`` with N = the CPUs this process
may run on. A run sets up (session start, CSV export, one cold pass
that fetches every op's result for the output check, and WARM_PASSES
untimed passes), then repeats passes over the workload's ops — in an
order the seed permutes — until ``--seconds`` have elapsed (at least
MIN_PASSES), and finally checks the fetched results against DuckDB
oracles. The end-to-end medians are taken over the last MIN_PASSES
untraced passes, so their sample count does not depend on how fast the
library runs; earlier passes extend the warm-up.

Times are reported net of hypervisor steal (host.net_of_steal); raw
wall times are printed beside them. ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` alternates untraced and traced
passes and reports the per-layer metrics of the traced ones; the
status stores are read only between timed windows. The last stdout
line is one JSON object; the lines before it print every metric with
its unit and sample count. Spans of a traced run are written to
``.perfbench/out/``.
"""

from __future__ import annotations

import time

from host import cpu_jiffies, net_of_steal, steal_of

_PROCESS_T0 = time.perf_counter()
_PROCESS_CPU0 = cpu_jiffies()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from spans import SpanRecorder, self_seconds  # noqa: E402
from sparkstore import StatusStores, catalyst_phases_ms  # noqa: E402
from summary import median, tail  # noqa: E402
from workloads import WORKLOADS, Op, Oracle, check  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.01"
WORK = ROOT / ".perfbench"
RUN_DIR = WORK / "run"
OUT_DIR = WORK / "out"

#: untimed noop passes after the cold check pass: the JIT keeps
#: compiling for several passes, and timing that slope makes the
#: figures depend on how much CPU the compiler threads got
WARM_PASSES = 2

#: measured passes a run makes even past --seconds, and the number of
#: (last) untraced passes the end-to-end medians are taken over; a
#: traced run alternates untraced and traced passes, so it gets both
MIN_PASSES = 3

#: SQL metric name -> per-layer metric it sums into
NODE_METRICS = {
    "scan time": "exec.scan_time_s",
    "time in aggregation build": "exec.agg_build_s",
    "time to collect": "exec.broadcast_collect_s",
    "spill size": "exec.spill_b",
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
#: executor-total field -> per-layer metric
EXECUTOR_METRICS = {
    "task_s": "exec.task_s",
    "gc_s": "exec.gc_s",
    "input_b": "exec.input_b",
    "shuffle_read_b": "exec.shuffle_read_b",
    "shuffle_write_b": "exec.shuffle_write_b",
}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.ops: list[Op] = WORKLOADS[workload]
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.spans = SpanRecorder()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        import pandasql_spark as ps
        from pandasql_spark.queries import REGISTRY
        from pandasql_spark.session import get_spark

        self.ps, self.registry = ps, REGISTRY
        t = time.perf_counter()
        self.setup_parts = {"imports_s": t - _PROCESS_T0}
        self.spark = get_spark(
            "perfbench",
            **{
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.sql.warehouse.dir": str(RUN_DIR / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={RUN_DIR / 'tmp'} -XX:-UsePerfData",
            },
        )
        self.get_spark_s = self.setup_parts["get_spark_s"] = time.perf_counter() - t
        self.store = StatusStores(self.spark)
        self.csv_dir = str(RUN_DIR / "lineitem_csv")
        self.parquet_out = str(RUN_DIR / "csv_parquet")
        self.csv_mb = 0.0
        if any(op.kind == "csv_ingest" for op in self.ops):
            t = time.perf_counter()
            self.spark.read.parquet(str(DATA_DIR / "lineitem.parquet")).write.mode(
                "overwrite").option("header", True).csv(self.csv_dir)
            self.csv_mb = sum(
                p.stat().st_size for p in Path(self.csv_dir).glob("*.csv")) / 1e6
            self.setup_parts["csv_export_s"] = time.perf_counter() - t

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- one op -----------------------------------------------------------
    def build(self, op: Op):
        if op.kind == "noop":
            return self.registry[op.query].fn(self.spark, str(DATA_DIR))
        if op.kind == "compute":
            return self.ps.DataFrame(sdf=self.registry[op.query].fn(self.spark, str(DATA_DIR)))
        if op.kind == "csv_ingest":
            return self.ps.read_csv(self.csv_dir)
        return self.ps.read_parquet(str(DATA_DIR / "lineitem.parquet"))

    def execute(self, op: Op, frame, fetch: bool = False):
        """Materialize ``frame``. ``fetch`` turns a noop op into a
        toPandas() so the check pass can compare its rows."""
        if op.kind == "noop":
            if fetch:
                return frame.toPandas()
            frame.write.format("noop").mode("overwrite").save()
            return None
        if op.kind == "csv_ingest":
            frame.to_parquet(self.parquet_out)
            return self.parquet_out
        return frame.compute()

    def release(self, rdds_before: set) -> None:
        """Drop what an op persisted, so passes do not accumulate cache
        and no op is served by another op's cached result."""
        self.spark.catalog.clearCache()
        cur = self.spark.sparkContext._jsc.getPersistentRDDs()
        for i in cur.keySet().toArray():
            if i not in rdds_before and cur.get(i) is not None:
                cur.get(i).unpersist(False)

    def run_op(self, op: Op, op_id: int, traced: bool, fetch: bool = False) -> dict:
        """Run one op: its latency (raw and net of steal), result, SQL
        execution count and, traced, its layer sums. Everything but the
        op itself runs outside the timed window."""
        rdds = set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        count0 = self.store.execution_count()
        tot0 = self.store.executor_totals() if traced else None
        cpu0 = cpu_jiffies()
        rec: dict = {"op": op.name, "ok": True, "result": None, "layers": {}}
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            if traced:
                rec.update(self._traced(op, op_id))
            else:
                rec["result"] = self.execute(op, self.build(op), fetch)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            rec["ok"] = False
            self.failures.append(f"{op.name}: raised")
            traceback.print_exc(file=sys.stderr)
        rec["seconds"] = time.perf_counter() - t0
        if not fetch:
            rec["result"] = None  # only the check pass keeps its results
        rec["steal_frac"], rec["steal_share"] = steal_of(cpu0, cpu_jiffies())
        rec["net_s"] = net_of_steal(rec["seconds"], rec["steal_share"])
        execs = self.store.executions_since(count0)
        rec["sql_executions"] = len(execs)
        if traced and rec["ok"]:
            self._attribute(op, rec, execs, tot0)
        self.release(rdds)
        return rec

    def _traced(self, op: Op, op_id: int) -> dict:
        with self.spans.span("op", op_id) as s_op:
            with self.spans.span("build", op_id, s_op) as s_build:
                frame = self.build(op)
            with self.spans.span("plan", op_id, s_op) as s_plan:
                jdf = (frame if op.kind == "noop" else frame.to_spark())._jdf
                jdf.queryExecution().executedPlan()
            exec_name = "execute" if op.kind in ("noop", "csv_ingest") else "compute"
            with self.spans.span(exec_name, op_id, s_op) as s_exec:
                result = self.execute(op, frame)
        return {"result": result, "phases": catalyst_phases_ms(jdf),
                "spans": (s_build, s_plan, s_exec)}

    def _attribute(self, op: Op, rec: dict, execs, tot0: dict) -> None:
        """Fold one traced op's store readings into per-layer sums.
        Executions are attributed to a span by their submission time."""
        s_build, _, s_exec = rec.pop("spans")
        lay = rec["layers"]

        def add(key: str, value: float) -> None:
            lay[key] = lay.get(key, 0.0) + value

        def within(e, span) -> bool:
            return span.start * 1000 - 1 <= e.start_ms <= span.end * 1000 + 1

        tot1 = self.store.executor_totals()
        for key, name in EXECUTOR_METRICS.items():
            add(name, tot1[key] - tot0[key])
        add("exec.sql_executions", len(execs))
        for name in ("analysis", "optimization", "planning"):
            add(f"catalyst.{name}_ms", rec["phases"][name])
        if op.query is not None:
            add("queries.build_s", s_build.seconds)
            add("queries.build_sql_executions", sum(within(e, s_build) for e in execs))
        if op.kind in ("compute", "fetch"):
            inside = [e for e in execs if within(e, s_exec)]
            add("core.compute_sql_executions", len(inside))
            add("core.guard_s", sum(e.seconds for e in inside[:-1]))
            rec["compute_sql_executions"] = len(inside)
        if op.kind == "csv_ingest":
            add("sources.read_csv_s", s_build.seconds)
            add("sources.to_parquet_s", s_exec.seconds)
            add("sources.csv_mb", self.csv_mb)
        for e in execs:
            for metric, value in self.store.node_metrics(e.id, NODE_METRICS):
                add(NODE_METRICS[metric], value)

    # -- passes -----------------------------------------------------------
    def run_pass(self, traced: bool, fetch: bool = False) -> dict:
        order = self.rng.sample(self.ops, len(self.ops))
        tot0 = self.store.executor_totals()
        cpu0 = cpu_jiffies()
        first_span = len(self.spans.spans)
        recs = [self.run_op(op, i, traced, fetch) for i, op in enumerate(order)]
        tot1 = self.store.executor_totals()
        steal_frac, steal_share = steal_of(cpu0, cpu_jiffies())
        layers: dict[str, float] = {}
        for r in recs:
            for k, v in r["layers"].items():
                layers[k] = layers.get(k, 0.0) + v
        ok = [r for r in recs if r["ok"]]
        task_s = tot1["task_s"] - tot0["task_s"]
        return {
            "traced": traced,
            "ops": recs,
            "seconds": sum(r["seconds"] for r in ok),
            "net_s": sum(r["net_s"] for r in ok),
            "task_s": task_s,
            "task_net_s": net_of_steal(task_s, steal_share),
            "steal_frac": steal_frac,
            "steal_share": steal_share,
            "layers": layers,
            "self_s": self_seconds(self.spans.spans[first_span:]),
        }

    def run(self) -> dict:
        self.start()
        t = time.perf_counter()
        check_pass = self.run_pass(traced=False, fetch=True)
        self.setup_parts["check_pass_s"] = time.perf_counter() - t
        for i in range(WARM_PASSES):
            t = time.perf_counter()
            self.run_pass(traced=False)
            self.setup_parts[f"warm_pass{i + 1}_s"] = time.perf_counter() - t
        setup_wall = time.perf_counter() - _PROCESS_T0
        _, setup_share = steal_of(_PROCESS_CPU0, cpu_jiffies())
        passes: list[dict] = []
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
            passes.append(self.run_pass(traced=self.trace and len(passes) % 2 == 1))
        # before the oracle phase loads DuckDB into this process
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.check_outputs(check_pass)
        if self.trace:
            self.check_trace_counts(passes)
        return {"setup_wall_s": setup_wall, "setup_steal_share": setup_share,
                "setup_s": net_of_steal(setup_wall, setup_share), "passes": passes,
                "rss_mb": rss_mb}

    def check_outputs(self, check_pass: dict) -> None:
        """The once-per-run output check: every op's fetched result from
        the check pass against its DuckDB oracle (untimed)."""
        by_name = {op.name: op for op in self.ops}
        oracle_sql = {n: q.oracle for n, q in self.registry.items() if q.oracle}
        oracle = Oracle(str(DATA_DIR))
        try:
            for rec in check_pass["ops"]:
                if rec["ok"]:
                    diff = check(by_name[rec["op"]], rec["result"], oracle, oracle_sql)
                    if diff is not None:
                        self.failures.append(f"{rec['op']}: {diff}")
                rec["result"] = None
        finally:
            oracle.close()

    def check_trace_counts(self, passes: list[dict]) -> None:
        """Tracing must not change what runs: every op's SQL execution
        count in the traced passes must equal the untraced passes'."""
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        for op in self.ops:
            t = op_values(traced, op.name, "sql_executions")
            u = op_values(untraced, op.name, "sql_executions")
            if t != u:
                self.failures.append(f"{op.name}: sql_executions traced {t} != untraced {u}")


# -- reporting --------------------------------------------------------------
def measured(res: dict) -> list[dict]:
    """The untraced passes the end-to-end medians are taken over."""
    return [p for p in res["passes"] if not p["traced"]][-MIN_PASSES:]


def end_to_end(res: dict, bench: Bench) -> tuple[dict, dict]:
    """End-to-end metrics of the measured passes, as name -> (value,
    unit, samples): the gated ones every workload reports, and the rest
    (workload-specific, raw wall, host)."""
    passes = measured(res)
    ops = [r for p in passes for r in p["ops"] if r["ok"]]
    net = [r["net_s"] for r in ops]
    n_p, n_o = f"n={len(passes)}", f"n={len(net)}"
    gated = {
        "setup_s": (res["setup_s"], "s", "n=1"),
        "pass_s": (median([p["net_s"] for p in passes]), "s", n_p),
        "op_s_p50": (median(net), "s", n_o),
        "task_s": (median([p["task_net_s"] for p in passes]), "s", n_p),
        "driver_rss_peak_mb": (res["rss_mb"], "MB", "n=1"),
    }
    extra = {}
    op_tail = tail(net)
    if op_tail is not None:
        extra["op_s_tail"] = (op_tail[1], "s", f"p={op_tail[0]:.1f} {n_o}")
    kinds = {op.name: op.kind for op in bench.ops}

    def net_of(kind: str) -> list[float]:
        return [r["net_s"] for r in ops if kinds[r["op"]] == kind]

    if net_of("compute"):
        extra["compute_s_p50"] = (median(net_of("compute")), "s", f"n={len(net_of('compute'))}")
    if net_of("fetch"):
        extra["fetch_s"] = (median(net_of("fetch")), "s", f"n={len(net_of('fetch'))}")
    if net_of("csv_ingest"):
        extra["ingest_mb_per_s"] = (
            bench.csv_mb / median(net_of("csv_ingest")), "MB/s",
            f"n={len(net_of('csv_ingest'))}")
    extra["failed_ops_frac"] = (
        len(bench.failures) / bench.attempted, "frac", f"n={bench.attempted}")
    extra["setup_wall_s"] = (res["setup_wall_s"], "s", "n=1")
    extra["pass_wall_s"] = (median([p["seconds"] for p in passes]), "s", n_p)
    extra["op_wall_s_p50"] = (median([r["seconds"] for r in ops]), "s", n_o)
    extra["steal_share_setup"] = (res["setup_steal_share"], "frac", "n=1")
    extra["steal_share_p50"] = (median([p["steal_share"] for p in passes]), "frac", n_p)
    extra["steal_frac_max"] = (max(p["steal_frac"] for p in passes), "frac", n_p)
    return gated, extra


def per_layer(res: dict, bench: Bench) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced passes, as name -> (value, unit,
    samples), and report lines on span self time and per-op counts."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    n = f"n={len(traced)}"
    shares = [r["steal_share"] for p in traced for r in p["ops"]]
    # the per_layer metrics of BENCHMARK.json that are not per-pass sums
    special = {
        "session.get_spark_s": (bench.get_spark_s, "n=1"),
        "host.steal_frac": (median([p["steal_frac"] for p in traced]), n),
        "host.steal_share": (max(shares), f"n={len(shares)}"),
        "trace.overhead_s": (
            median([p["net_s"] for p in traced]) - median([p["net_s"] for p in untraced]),
            f"n={len(traced)}/{len(untraced)}"),
    }
    metrics = {}
    for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]:
        name = m["name"]
        value, samples = special[name] if name in special else (
            median([p["layers"].get(name, 0.0) for p in traced]), n)
        metrics[name] = (value, m["unit"], samples)
    lines = ["  self time per pass (s):" + "".join(
        f" {name}={median([p['self_s'].get(name, 0.0) for p in traced]):.4f}"
        for name in ("op", "build", "plan", "execute", "compute"))]
    lines.append("  per op: sql_executions traced / untraced, compute() executions"
                 " (a mismatch fails the run)")
    for op in bench.ops:
        t = op_values(traced, op.name, "sql_executions")
        u = op_values(untraced, op.name, "sql_executions")
        flag = "" if t == u else "  MISMATCH"
        lines.append(f"    {op.name:<26} {t} / {u} "
                     f"{op_values(traced, op.name, 'compute_sql_executions') or ''}{flag}")
    return metrics, lines


def op_values(passes: list[dict], name: str, key: str) -> list:
    """Distinct values of one op record field over ``passes``."""
    return sorted({r[key] for p in passes for r in p["ops"] if r["op"] == name and key in r})


def print_metrics(metrics: dict) -> None:
    for k, (v, unit, n) in metrics.items():
        print(f"  {k:<30} {v:>14.6g} {unit:<6} {n}")


def report(res: dict, bench: Bench) -> dict:
    """Print the human-readable report; return the JSON metrics."""
    gated, extra = end_to_end(res, bench)
    print(f"perfbench workload={bench.workload} seed={bench.seed} cores={bench.cores} "
          f"master=local[{bench.cores}] data={DATA_DIR.relative_to(ROOT)} "
          f"seconds={bench.seconds:g} trace={int(bench.trace)} closed-loop clients=1")
    print("set-up: " + " ".join(f"{k}={v:.3f}" for k, v in bench.setup_parts.items()))
    print(f"end-to-end (last {MIN_PASSES} untraced passes; *_s net of steal, *_wall_s raw):")
    print_metrics({**gated, **extra})
    print("  per op: median net s, sql_executions (measured passes)")
    untraced = measured(res)
    for op in bench.ops:
        net = [r["net_s"] for p in untraced for r in p["ops"] if r["op"] == op.name and r["ok"]]
        if net:
            print(f"    {op.name:<26} {median(net):>8.3f} "
                  f"{op_values(untraced, op.name, 'sql_executions')}")
    if not bench.trace:
        return gated
    layers, lines = per_layer(res, bench)
    print("per-layer (traced passes: per-pass sums, median over passes; raw times):")
    print_metrics(layers)
    print("\n".join(lines))
    path = OUT_DIR / f"spans_{bench.workload}_seed{bench.seed}.json"
    bench.spans.write(str(path), {"workload": bench.workload, "seed": bench.seed,
                                  "cores": bench.cores})
    print(f"spans: {path.relative_to(ROOT)}")
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pandasql_spark" / "__init__.py").is_file():
        print(f"perfbench: no pandasql_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    (RUN_DIR / "tmp").mkdir(parents=True)
    OUT_DIR.mkdir(parents=True, exist_ok=True)
    # library temp dirs, Spark's local dirs and the Python workers'
    # import path all stay inside the checkout
    os.environ["TMPDIR"] = str(RUN_DIR / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ["SPARK_GRAFT_CPUS"] = str(bench.cores)
    try:
        res = bench.run()
    finally:
        bench.close()
        shutil.rmtree(RUN_DIR, ignore_errors=True)

    metrics = report(res, bench)
    for f in bench.failures:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
    }))
    return 1 if bench.failures else 0


if __name__ == "__main__":
    sys.exit(main())
