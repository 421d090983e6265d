"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 5 --trace 0

Run from the repository root. The run writes seeded fixture tables,
computes every expected answer (DuckDB / plain Python), sets the
engine up ``SETUP_REPS`` times, then drives a closed loop with one
client: whole passes of the workload's op mix until at least
``--seconds`` of op time has been measured. Every op's answer is
checked outside its timed span; an exception, a timeout or a wrong
answer is a failed op and the loop goes on.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (and writes the spans to ``.perfbench/traces/``).
The last stdout line is the JSON result; the lines before it are a
readable report with every metric, its unit and its sample count.

All Spark state (warehouse tables, local dirs, stores, checkpoints)
goes to a per-run directory under ``.perfbench/tmp/`` that is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gsuites_gcp_graphdb_spark"

SETUP_REPS = 2
# Fixed pure-Python CPU work, timed before every set-up and every op.
# The machine's speed drifts from run to run (other tenants' load on
# the host), and op latencies drift with it; reported times are
# scaled to a reference speed: raw * ANCHOR_REF_S / median(anchor).
ANCHOR_LOOPS = 200_000
ANCHOR_REF_S = 0.019  # the anchor's median on an idle 4-vCPU host
OP_TIMEOUT_S = 60.0
WALL_LIMIT_S = 150.0  # stop starting passes after this much wall time

E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "peak_rss_mb": "MB",
    "op_p90_s": "s", "fail_ratio": "ratio", "read_p50_s": "s",
    "store_bytes_per_edge": "bytes/edge",
}
# Every layer metric the report prints. BENCHMARK.json's per_layer
# list holds the ones both workloads produce (up to trace.overhead_s);
# the rest read 0 on the workload that skips the layer.
LAYER_UNITS = {
    "session.start_s": "s", "fixtures.load_calls": "count", "fixtures.load_s": "s",
    "plans.plan_s": "s", "plans.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "driver.gap_s": "s", "driver.cpu_s": "s", "trace.overhead_s": "s",
    "spark.spill_bytes": "bytes",
    "build.s": "s",
    "traversal.expansions_per_op": "count", "algorithms.s": "s", "algorithms.jobs": "count",
    "ingest.merge_s": "s", "ingest.snapshot_load_s": "s",
    "ingest.bytes_written": "bytes", "ingest.compactions": "count",
    "ingest.useful_ratio": "ratio", "plans.pipeline_s": "s", "dedup.s": "s",
    "similarity.s": "s", "text.s": "s", "dedup.candidate_precision": "ratio",
}
# per-op self time of a span name -> layer metric
OP_SPAN_METRICS = {
    "graph.algorithms": "algorithms.s", "plans.pipeline_queries": "plans.pipeline_s",
    "operators.dedup": "dedup.s", "operators.similarity": "similarity.s",
    "operators.text": "text.s",
}
# mean duration per call of a span name -> layer metric
PER_CALL_METRICS = {
    "streaming.ingest.merge": "ingest.merge_s",
    "streaming.ingest.load_snapshot": "ingest.snapshot_load_s",
}


def box_settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # a quarter of physical memory, at most 4 GiB: the machine is shared
    mem_mb = max(1024, min(phys_mb // 4, 4096))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
            "physical_mb": phys_mb}


def configure(tmp: str) -> dict:
    s = box_settings()
    os.environ["SPARK_GRAFT_CPUS"] = s["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = s["SPARK_GRAFT_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse",
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
        "-XX:-UsePerfData'",
        "pyspark-shell",
    ])
    return s


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM process has exited, even when
    the gateway connection is already broken."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Runner:
    def __init__(self, args, tmp: str):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.tr = Tracer(bool(args.trace))
        self.w = WORKLOADS[args.workload](args.seed, tmp, self.tr)
        self.spark = None
        self.samples: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.expansions = 0
        self.anchors: list[float] = []

    def start_session(self):
        from gsuites_gcp_graphdb_spark.session import get_spark

        t = time.perf_counter()
        with self.tr.span("session"):
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s.append(time.perf_counter() - t)
        self.tr.bind(self.spark)

    def setup(self, import_s: float):
        for rep in range(SETUP_REPS):
            self.anchor()
            t = time.perf_counter()
            self.start_session()
            self.w.setup(self.spark)
            # the first set-up also pays the interpreter's imports
            self.setup_s.append(time.perf_counter() - t + (import_s if rep == 0 else 0.0))

    def run_op(self, op, timed: bool) -> None:
        op_id = self.attempted
        self.attempted += 1
        if op.before is not None:
            op.before()
        self.tr.op_start(op_id)
        root = len(self.tr.spans)
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        err, rows = None, None
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{op.kind}"):
                t0 = time.perf_counter()
                with self.tr.span("plans.plan"):
                    obj = op.plan()
                with self.tr.span("plans.action"):
                    rows = op.action(obj)
                lat = time.perf_counter() - t0
        except Exception as e:  # a failed op is recorded, the loop goes on
            lat, err = time.perf_counter() - t0, e
        finally:
            timer.cancel()
        self.tr.op_end(self.tr.spans[root] if self.tr.enabled else None)
        try:
            if op.after is not None:
                op.after()
            ok = err is None and lat <= OP_TIMEOUT_S and op.check(rows)
        except Exception as e:
            ok, err = False, e
        if not ok:
            self.failed += 1
            print(f"FAILED op {op_id} {op.kind}: {err or 'wrong answer'}", file=sys.stderr)
        if timed:
            self.samples.append((op.kind, lat))
            self.expansions += op.expansions

    def anchor(self) -> None:
        """Best of three timings of the fixed loop."""
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            s = 0
            for i in range(ANCHOR_LOOPS):
                s += i * i
            best = min(best, time.perf_counter() - t)
        self.anchors.append(best)

    def speed(self) -> float:
        """Reference anchor time / this run's: scales raw seconds to
        reference-speed seconds."""
        return ANCHOR_REF_S / statistics.median(self.anchors)

    def measure(self):
        measured, n = 0.0, 0
        while n == 0 or (measured < self.args.seconds
                         and time.perf_counter() - T_PROCESS < WALL_LIMIT_S):
            for op in self.w.pass_ops(n):
                self.anchor()
                self.run_op(op, timed=True)
                measured += self.samples[-1][1]
            n += 1
        self.passes = n
        t = time.perf_counter()
        for op in self.w.finish():
            self.run_op(op, timed=False)
        self.finish_s = time.perf_counter() - t

    def peak_rss_mb(self) -> float:
        from spans import proc_peak_rss_mb

        jvm = int(self.spark._jvm.ProcessHandle.current().pid())
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return proc_peak_rss_mb(jvm) + own

    def end_to_end(self, scale: float) -> dict:
        """Times are multiplied by ``scale`` (1.0 gives raw seconds)."""
        lats = [x * scale for _, x in self.samples]
        reads = [x * scale for k, x in self.samples if k == "read"]
        m = {
            "setup_s": statistics.median(self.setup_s) * scale,
            "ops_per_s": len(lats) / sum(lats),
            "op_p50_s": statistics.median(lats),
            "peak_rss_mb": self.peak_rss_mb(),
            "op_p90_s": percentile(lats, 0.9),
            "fail_ratio": self.failed / self.attempted,
        }
        if reads:
            m["read_p50_s"] = statistics.median(reads)
        extra = self.w.report()
        if "store_bytes_per_edge" in extra:
            m["store_bytes_per_edge"] = extra["store_bytes_per_edge"]
        return m

    def per_layer(self) -> dict:
        from spans import jobs_in, self_times

        spans, n_ops = self.tr.spans, len(self.samples)
        timed = lambda op_id: op_id is not None and op_id < n_ops  # noqa: E731
        st_setup = self_times(spans, lambda op_id: op_id is None)
        st_ops = self_times(spans, timed)
        reps = len(self.setup_s)
        m: dict[str, float] = {
            "session.start_s": statistics.median(self.session_s),
            "fixtures.load_calls": self.w.load_calls / reps,
            "fixtures.load_s": st_setup.get("sources.fixtures", 0.0) / reps,
            # whole phase durations: the layer spans inside them count
            "plans.plan_s": _total(spans, "plans.plan", timed) / n_ops,
            "plans.action_s": _total(spans, "plans.action", timed) / n_ops,
            "trace.overhead_s": self.tr.overhead_s / max(1, self.attempted),
            "traversal.expansions_per_op": self.expansions / n_ops,
            "build.s": st_setup.get("graph.build", 0.0) / reps,
        }
        counters = [c for i, c in self.tr.op_counters.items() if i < n_ops]
        for k in sorted({k for c in counters for k in c}):
            m[k] = sum(c.get(k, 0.0) for c in counters) / n_ops
        for span, metric in OP_SPAN_METRICS.items():
            if span in st_ops:
                m[metric] = st_ops[span] / n_ops
        if "graph.algorithms" in st_ops:
            m["algorithms.jobs"] = jobs_in(spans, "graph.algorithms") / n_ops
        # per public function: time and jobs summed over the pass's ops
        for s in spans:
            if s[0] == "graph.algorithms" and timed(s[4]):
                kind = _root_kind(spans, s)
                m[f"algorithms.{kind}.s"] = m.get(f"algorithms.{kind}.s", 0.0) + s[2] - s[1]
                m[f"algorithms.{kind}.jobs"] = m.get(f"algorithms.{kind}.jobs", 0) + s[6] - s[5]
        for span, metric in PER_CALL_METRICS.items():
            calls = [s[2] - s[1] for s in spans if s[0] == span and timed(s[4])]
            if calls:
                m[metric] = statistics.mean(calls)
        for k, v in self.w.report().items():
            if k in LAYER_UNITS:
                m[k] = v
        return m


def _root_kind(spans, s) -> str:
    while s[3] is not None:
        s = spans[s[3]]
    return s[0].removeprefix("op.")


def _total(spans, name: str, keep) -> float:
    """Summed duration of the spans called ``name`` in accepted ops."""
    return sum(s[2] - s[1] for s in spans if s[0] == name and keep(s[4]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(base, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(base, "tmp"))
    cwd = os.getcwd()
    runner = None
    try:
        settings = configure(tmp)
        os.chdir(tmp)  # stray Spark/Derby files land in the run dir too
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        import_s = time.perf_counter() - T_PROCESS
        runner = Runner(args, tmp)
        t = time.perf_counter()
        runner.w.prepare()
        prepare_s = time.perf_counter() - t
        runner.setup(import_s)
        runner.measure()
        e2e = runner.end_to_end(runner.speed())
        e2e_raw = runner.end_to_end(1.0)
        layers = runner.per_layer() if args.trace else {}
        if args.trace:
            runner.tr.dump(
                os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"end_to_end": e2e, "end_to_end_raw": e2e_raw, "per_layer": layers,
                 "samples": runner.samples, "anchors": runner.anchors},
            )
    finally:
        t = time.perf_counter()
        try:
            if runner is not None and runner.spark is not None:
                stop_spark(runner.spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp, ignore_errors=True)
            teardown_s = time.perf_counter() - t

    kinds = sorted({k for k, _ in runner.samples})
    print(f"settings: workload={args.workload} seed={args.seed} "
          f"cpus={settings['SPARK_GRAFT_CPUS']} "
          f"driver_mem={settings['SPARK_GRAFT_DRIVER_MEM']} "
          f"physical_mb={settings['physical_mb']} setup_reps={SETUP_REPS} "
          f"passes={runner.passes} op_samples={len(runner.samples)} "
          f"kinds={','.join(kinds)}")
    print(f"phases: import_s={import_s:.2f} prepare_s={prepare_s:.2f} "
          f"setup_s={','.join(f'{x:.2f}' for x in runner.setup_s)} "
          f"measure_s={sum(x for _, x in runner.samples):.2f} finish_s={runner.finish_s:.2f} "
          f"teardown_s={teardown_s:.2f} wall_s={time.perf_counter() - T_PROCESS:.2f}")
    print(f"anchor median_s={statistics.median(runner.anchors):.5f} "
          f"n={len(runner.anchors)} speed={runner.speed():.4f}")
    for kind in kinds:
        lats = [x for k, x in runner.samples if k == kind]
        print(f"op {kind} n={len(lats)} median_s={statistics.median(lats):.3f}")
    for k, v in e2e.items():
        print(f"e2e {k} {v:.6g} {E2E_UNITS[k]}")
    for k in ("setup_s", "ops_per_s", "op_p50_s"):
        print(f"e2e_raw {k} {e2e_raw[k]:.6g} {E2E_UNITS[k]}")
    for k, v in layers.items():
        unit = LAYER_UNITS.get(k) or ("s" if k.endswith(".s") else "count")
        print(f"layer {k} {v:.6g} {unit}")
    declared = _declared()
    source = layers if args.trace else e2e
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in declared[section]
    }
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
