"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. A closed loop with one client drives the
engine's public surface on local[<cores>]: each op is built as
`queries()[name](spark, d)` and written to the `noop` sink, then the next
op starts. The run

1. sets up: fresh process to a ready SparkSession with the op registry
   loaded (timed as one `setup_s` sample);
2. generates the seeded input (untimed, cached);
3. makes the first pass (`first_run_s`), checking every op's output
   against its DuckDB oracle right after its timed write (untimed);
4. makes `WARM_PASSES` warm passes (more only if the first pass and
   these end before `--seconds`); `run_s` and the per-op latencies come
   from them;
5. stops Spark and times one more set-up in a fresh child process;
   `setup_s` is the median of the set-ups.

Spark's cache is cleared after every op-run, outside the timing, so that a
warm pass pays what a single call pays.

The last stdout line is one JSON object: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer metrics of a run with spans on.
A readable summary, the run environment and the calibration go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_SETUPS = 1  # set-ups timed in fresh child processes, besides the main one
# Every run makes the same number of warm passes, because passes keep getting
# faster for several passes after the first (JIT); a count set by elapsed
# time would mix different stages of warm-up into run_s. Two passes keep a
# whole run under a minute on a slow shared 4-vCPU host.
WARM_PASSES = 2
DRIVER_MEMORY = "3g"
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def pin_environment() -> int:
    """Pin the session environment so both sides of an A/B match: all
    cores of this host, no other engine knob, every temp path inside the
    work directory. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    no_perf_file = "-XX:-UsePerfData"  # HotSpot writes it under /tmp otherwise
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS=no_perf_file,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} {no_perf_file}")
            + " pyspark-shell"
        ),
    )
    return cores


def setup():
    """Fresh process → ready session + op registry. Returns
    (spark, queries, oracles, {setup_s, session.start_s, registry.load_s})."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from tpc_di_etl_using_pyspark_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, queries, oracles, {
        "setup_s": t2 - t0, "session.start_s": t1 - t0, "registry.load_s": t2 - t1,
    }


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def keep_scratch_in_work() -> None:
    """Point the engine's write-then-read-back fixtures (FINWIRE, HR csv)
    at the work directory instead of the system temp dir."""
    from tpc_di_etl_using_pyspark_spark.plans import core_scans

    original = core_scans._scratch

    def scratch(d: str, op: str) -> str:
        tag = os.path.basename(os.path.normpath(d)) or "sf"
        path = os.path.join(WORK, "scratch", f"p{os.getpid()}", tag, op)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    for mod in list(sys.modules.values()):
        if getattr(mod, "_scratch", None) is original:
            mod._scratch = scratch


def calibration_s(spark) -> float:
    """Host-speed probe kept as metadata: a fixed in-memory range+agg
    with no file IO and no engine code (median of 3 after one warm-up)."""
    from pyspark.sql import functions as F

    q = (
        spark.range(0, 1 << 22, 1, 16)
        .selectExpr("id", "id * 2654435761 % 1000003 AS h")
        .groupBy((F.col("h") % 64).alias("b"))
        .agg(F.sum("id").alias("s"))
    )
    runs = []
    for i in range(4):
        t0 = time.perf_counter()
        q.write.mode("overwrite").format("noop").save()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs[1:])


class Runner:
    def __init__(self, spark, queries, oracles, ops, input_dir, tracer=None):
        self.spark, self.queries, self.oracles = spark, queries, oracles
        self.ops, self.input_dir, self.tracer = ops, input_dir, tracer
        self.attempted = 0
        self.failed = 0
        self.wrong: dict[str, str] = {}  # op -> mismatch reason

    def op_run(self, name: str, oracle=None) -> float:
        """Build and write one op; returns the timed seconds (NaN when it
        raised). `oracle`, when given, checks the output after the timed
        region."""
        self.attempted += 1
        try:
            dt, df = self._timed(name) if self.tracer is None else self._traced(name)
        except Exception as e:  # one failing op must not end the run
            self.failed += 1
            log(f"{name} failed: {type(e).__name__}: {e}")
            return float("nan")
        if oracle is not None:
            try:
                why = oracle.mismatch(df, self.oracles[name])
            except Exception as e:  # a check that cannot run is a failed check
                why = f"check raised {type(e).__name__}: {e}"
            if why is not None:
                self.wrong[name] = why
                log(f"{name} WRONG RESULT: {why}")
        self.spark.catalog.clearCache()
        if name in self.wrong:
            self.failed += 1
        return dt

    def _timed(self, name: str):
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.input_dir)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0, df

    def _traced(self, name: str):
        tr = self.tracer
        first = len(tr.spans)
        t0 = time.perf_counter()
        with tr.span("op", name):
            with tr.span("plans", name):
                df = self.queries[name](self.spark, self.input_dir)
            with tr.span("catalyst", name) as cs:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for k in ("analysis", "optimization", "planning"):
                    if phases.contains(k):
                        cs.extra[k] = phases.apply(k).durationMs() / 1000.0
            mark = tr.sql_exec_mark()
            with tr.span("exec", name) as es:
                df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        tr.settle(tr.spans[first:])
        es.extra["exchanges"], es.extra["reused_exchanges"] = tr.exchanges_since(mark)
        tr.run += 1
        return dt, df

    def measure(self, seconds: float):
        """First pass with the oracle check, then WARM_PASSES warm passes,
        and more only while less than `seconds` have passed since the first
        pass began. Returns (first-pass per-op seconds, the warm passes)."""
        from oracle import Oracle

        t0 = time.perf_counter()
        oracle = Oracle(self.input_dir)
        try:
            first_ops = self.one_pass(oracle).per_op
        finally:
            oracle.close()
        log("first pass + check done: " + " ".join(f"{n}={t:.2f}" for n, t in zip(self.ops, first_ops)))
        passes: list[Pass] = []
        while len(passes) < WARM_PASSES or time.perf_counter() - t0 < seconds:
            passes.append(self.one_pass())
        log("warm passes (s, steal): " + " ".join(f"{p.seconds:.2f}/{p.steal:.3f}" for p in passes))
        return first_ops, passes

    def one_pass(self, oracle=None) -> Pass:
        first_span = len(self.tracer.spans) if self.tracer else 0
        cpu0 = _cpu_times()
        t0 = time.perf_counter()
        per_op = [self.op_run(name, oracle) for name in self.ops]
        dt = time.perf_counter() - t0
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        steal = cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else 0.0
        last_span = len(self.tracer.spans) if self.tracer else 0
        return Pass(dt, per_op, (first_span, last_span), steal)


@dataclass
class Pass:
    seconds: float
    per_op: list[float]
    spans: tuple[int, int]  # [first, last) indices into the tracer's spans
    steal: float  # share of host CPU time stolen by the hypervisor


def _cpu_times() -> list[int]:
    """Aggregate CPU time counters from /proc/stat (empty when absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def child_setup() -> None:
    """Entry for a setup-timing child: set up, report, shut down."""
    spark, _, _, times = setup()
    stop(spark)
    print(json.dumps(times))


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import DEV_SEED, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=DEV_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    cores = pin_environment()
    if args.setup_child:
        child_setup()
        return 0
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    ops = WORKLOADS[args.workload]
    loadavg = os.getloadavg()[0]

    spark, queries, oracles, setup_times = setup()
    setups = [setup_times]
    log("set up")
    try:
        from inputs import fixture_fingerprint, generated_input

        keep_scratch_in_work()
        input_dir = generated_input(WORK, args.seed)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.instrument()
        runner = Runner(spark, queries, oracles, ops, input_dir, tracer)
        first_ops, passes = runner.measure(args.seconds)
        calib = calibration_s(spark)
    finally:
        stop(spark)
        shutil.rmtree(os.path.join(WORK, "scratch", f"p{os.getpid()}"), ignore_errors=True)
    first_run_s = sum(first_ops)
    log("main session stopped")
    for _ in range(CHILD_SETUPS):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-child"],
            capture_output=True, text=True, timeout=150, check=True,
        )
        setups.append(json.loads(out.stdout.strip().splitlines()[-1]))

    log("child setups done")
    op_samples = sorted(x for p in passes for x in p.per_op if x == x)
    deciles = statistics.quantiles(op_samples, n=10, method="inclusive") if len(op_samples) > 1 else op_samples * 9
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "first_run_s": first_run_s,
        "run_s": statistics.median(p.seconds for p in passes),
        "op_p50_s": deciles[4],
        "op_p90_s": deciles[8],
    }
    env = {
        "cores": cores, "driver_memory": DRIVER_MEMORY, "loadavg_start": loadavg,
        "calibration_s": round(calib, 4), "input": os.path.basename(input_dir),
        "fixture": fixture_fingerprint(), "op_samples": len(op_samples),
    }
    error_rate = runner.failed / runner.attempted
    log(f"{args.workload} seed={args.seed} trace={args.trace} env={json.dumps(env)}")
    for k, v in e2e.items():
        log(f"  {k} = {v:.4f} s")
    log(f"  error_rate = {error_rate:.4f} ({runner.failed}/{runner.attempted})")

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-p{os.getpid()}.jsonl"))
        metrics = layer_metrics(tracer, passes, setups, cores)
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}

    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def layer_metrics(tracer, passes, setups, cores) -> dict:
    """Per-layer metrics: medians over warm passes (set-up layers: over
    the set-up samples), each with its unit."""
    from spans import pass_metrics

    per_pass = [pass_metrics(tracer.spans[slice(*p.spans)], cores) for p in passes]
    layer = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    for k in ("session.start_s", "registry.load_s"):
        layer[k] = statistics.median(s[k] for s in setups)
    return {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}


def _unit(metric: str) -> str:
    if metric.endswith("_s") or metric == "exec.s":
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("core_occupancy"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
