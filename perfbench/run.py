"""Benchmark driver for the spatial engine.

    python3 perfbench/run.py --workload pip_mixed --seed 1 --seconds 3 --trace 0

Runs one workload closed-loop with one client on ``local[min(4, nproc)]``
for ``--seconds`` seconds, checks every op's output against an expected
digest computed without the engine, and prints one JSON object as the
last line of stdout.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md).  Run it from the root
of a checkout: the engine package is imported from there and every file
the run writes stays under ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import layers
import probes

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUP_REPS = 3
TAIL_PERCENTILES = (99, 95, 90, 75)

E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "ops_per_s": "1/s", "op_p50_s": "s",
    "op_tail_s": "s", "ok_ratio": "ratio", "resume_s": "s", "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session():
    """A local session whose scratch files all live under the cache dir;
    Python workers import the engine from the checkout root."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(CACHE, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        # a pre-touched fixed-size heap: the JVM's resident size would
        # otherwise follow its garbage collector's heap-growth decisions
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    """Stop Spark, then the JVM it runs in, and wait for every process
    this run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    def descendants():
        out, todo = [], [os.getpid()]
        while todo:
            kids = probes._children(todo.pop())
            out += kids
            todo += kids
        return out

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def tail(values: list[float]) -> tuple[float, int]:
    """Op time at the highest listed percentile with >= 10 samples beyond
    it; with too few samples for any (a run of one cycle), the slowest op,
    reported as percentile 100."""
    n = len(values)
    pct = next((p for p in TAIL_PERCENTILES if n * (100 - p) / 100 >= 10), None)
    if pct is None:
        return max(values), 100
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


class Runner:
    """Runs and checks ops, keeps their records and the failure count."""

    def __init__(self, wl, tracer, store):
        self.wl, self.tracer, self.store = wl, tracer, store
        self.phase = "warmup"
        self.records: list[dict] = []  # every op run, tagged with its phase
        self.attempted = 0
        self.failed = 0

    def op(self, kind: str, i: int, traced: bool = False) -> dict:
        tracer = self.tracer
        if tracer is not None:
            tracer.enabled = traced
            tracer.op = (i, kind) if traced else None
        with probes.Clock() as clock:
            try:
                rows, ok = self.wl.run_op(kind, i)
            except Exception as exc:  # a failed op counts against ok_ratio
                print(f"op {kind}#{i} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                rows, ok = 0, False
        rec = {"kind": kind, "i": i, "s": clock.s, "wall_s": clock.wall, "steal_s": clock.steal,
               "rows": rows, "ok": ok, "traced": traced, "phase": self.phase}
        if tracer is not None:
            tracer.enabled = False
            if traced:
                rec["layers"] = probes.fold_executions(self.store.read_new())
                tracer.run_deferred()
            self.store.skip()
        self.records.append(rec)
        self.attempted += 1
        self.failed += 0 if ok else 1
        if not ok:
            print(f"op {kind}#{i} output did not match its expected digest", file=sys.stderr)
        return rec

    def resume(self) -> float:
        """The workload's resume step, traced in a traced run."""
        if self.tracer is not None:
            self.tracer.enabled, self.tracer.op = True, layers.RESUME_OP
        with probes.Clock() as clock:
            try:
                resume_s, ok = self.wl.resume()
            except Exception as exc:  # counts against ok_ratio like any op
                print(f"resume raised {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
        if not ok:
            resume_s = clock.s
        if self.tracer is not None:
            self.tracer.enabled = False
        self.attempted += 1
        self.failed += 0 if ok else 1
        return resume_s

    @property
    def ops(self) -> list[dict]:
        return [r for r in self.records if r["phase"] == "measure"]

    def measure(self, seconds: float):
        """Whole cycles until ``seconds`` of op time have passed; traced
        runs alternate traced and untraced cycles (at least one of each)."""
        self.phase = "measure"
        cycle = self.wl.cycle
        busy = 0.0
        c = 0
        traced_run = self.tracer is not None
        while True:
            traced = traced_run and c % 2 == 0
            for j, kind in enumerate(cycle):
                rec = self.op(kind, c * len(cycle) + j, traced)
                busy += rec["s"]
            c += 1
            if busy >= seconds and (not traced_run or c >= 2):
                break


def e2e_metrics(runner: Runner, setup_s: float, resume_s: float, peak_rss: int):
    ops = runner.ops
    times = [o["s"] for o in ops]
    busy = sum(times)
    tail_s, pct = tail(times)
    info = {"tail_percentile": pct, "n_ops": len(ops), "busy_s": busy}
    return {
        "setup_s": setup_s,
        "rows_per_s": sum(o["rows"] for o in ops) / busy,
        "ops_per_s": len(ops) / busy,
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail_s,
        "ok_ratio": (runner.attempted - runner.failed) / runner.attempted,
        "resume_s": resume_s,
        "peak_rss_mb": peak_rss / 2**20,
    }, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import ssb_sgis_spark  # noqa: F401  the engine under test
        from pyspark.sql import SparkSession  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(CACHE, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    with probes.RssSampler() as rss, probes.Clock() as whole:
        with probes.Clock() as session:
            spark = start_session()
        try:
            tracer = probes.Tracer() if args.trace else None
            store = None
            if tracer is not None:
                tracer.enabled = False
                tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
                probes.install_engine_probes(tracer)
                store = probes.StatusStore(spark)
            wl = WORKLOADS[args.workload](Context(spark, args.seed, CACHE, tracer))
            runner = Runner(wl, tracer, store)

            reps = []
            for _ in range(SETUP_REPS):
                with probes.Clock() as rep:
                    wl.setup()
                    wl.frames()
                reps.append(rep.s)
            with probes.Clock() as warm:
                wl.warmup(runner)
            setup_s = session.s + statistics.median(reps) + warm.s

            runner.measure(args.seconds)
            resume_s = runner.resume()
            if tracer is not None:
                per_layer = layers.per_layer(wl, runner, tracer)
                trace_path = os.path.join(
                    CACHE, f"trace-{args.workload}-s{args.seed}.json")
                with open(trace_path, "w") as f:
                    json.dump({"spans": tracer.spans, "stats": dict(tracer.stats)}, f)
                tracer.restore()
        finally:
            stop_session(spark)
    metrics, info = e2e_metrics(runner, setup_s, resume_s, rss.peak)
    info.update(cpu_steal_s=whole.steal, session_s=session.s,
                setup_reps_s=reps, warmup_s=warm.s,
                warmup_ops=[(o["kind"], o["s"]) for o in runner.records
                            if o["phase"] == "warmup"],
                ops=[{k: o[k] for k in ("kind", "s", "wall_s", "steal_s", "ok", "traced")}
                     for o in runner.ops])
    print(json.dumps({"info": info}))
    if args.trace:
        out_metrics = per_layer
    else:
        out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out_metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
