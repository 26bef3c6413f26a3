"""validate_spark benchmark: one closed-loop workload per process.

    python3 perfbench/run.py --workload bulk_validate --seed 1 --seconds 10 --trace 0

One client issues one call at a time against a fresh SparkSession at
local[nproc]. Set-up (session, seeded inputs, DuckDB oracle, warm-up)
is billed to ``setup_s``; then whole schedule cycles of calls run until
``--seconds`` have passed.
Every output is checked against the oracle. The last stdout line is one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1`` (Spark event log + spans). A fuller result file with
provenance, spans and per-call timings goes to ``perfbench/results/``.
See perfbench/README.md for the workloads, inputs and metric table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
P90_MIN_CALLS = 100  # p90 needs at least ten calls beyond it
DRIVER_MEM = "2g"


def process_start_epoch() -> float:
    """When this process was started, on the ``time.time()`` clock, from
    its start tick and the uptime in /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


class Ctx:
    """What a workload sees: the session, its work dir, the timed-op and
    check recorders."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.op_s = 0.0
        self.ops: list[tuple[int | None, str, float]] = []  # (call, op, seconds)
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, name: str, *, action: bool = False):
        """A timed operation; its wall time is billed to the current call.
        The cache is cleared after each op, outside the timing."""
        t = time.perf_counter()
        with self.tracer.span(name, action=action):
            yield
        dt = time.perf_counter() - t
        self.op_s += dt
        self.ops.append((self.tracer.run, name, dt))
        self.spark.catalog.clearCache()

    def check(self, name: str, ok: bool, detail) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: wrong output: {str(detail)[:500]}")


def provenance(spark, n_cores: int, seed: int, inputs: dict) -> dict:
    import duckdb
    import pyspark

    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "validate_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(d, f), ROOT).encode() + fh.read())
    git = {"tree": None, "dirty": None}
    try:
        tree = subprocess.run(["git", "rev-parse", "HEAD^{tree}"], cwd=ROOT, capture_output=True,
                              text=True, timeout=30)
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                               capture_output=True, text=True, timeout=30)
        if tree.returncode == 0:
            git = {"tree": tree.stdout.strip(), "dirty": bool(dirty.stdout.strip())}
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {
        "git": git,
        "library_sha256": h.hexdigest(),
        "nproc": n_cores,
        "master": f"local[{n_cores}]",
        "seed": seed,
        "inputs": inputs,
        "versions": {
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
        },
        "note": "Compare numbers only at the same CPU count; never against the "
                "local[32] history of bench.py.",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = process_start_epoch()
    from perfbench.tracing import RssSampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # nothing is written outside the checkout: Spark shuffle/spill files,
    # JVM and Python temp files all go under the work dir
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    })
    rss = RssSampler().start()
    try:
        return run(args, wl, work, t_proc, rss)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def run(args, wl, work: str, t_proc: float, rss) -> int:
    from perfbench.tracing import PER_LAYER, Tracer, layer_metrics, read_event_log

    n_cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: no run-to-run heap-resizing decisions in peak RSS
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from validate_spark import session

    t_session, t = time.time(), time.perf_counter()
    spark = session.get_spark(app=f"perfbench-{wl.name}", cores=n_cores, extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    tracer = Tracer(bool(args.trace), spark.sparkContext)
    if args.trace:
        from validate_spark.operators import engine
        from validate_spark.plans import plan

        tracer.wrap(plan, "parse_rules", "plans.parse_rules")
        tracer.wrap(engine, "compile_plan", "plans.compile_plan")
    ctx = Ctx(spark, tracer, args.seed, work)

    def call(i: int) -> tuple[float, int]:
        ctx.op_s = 0.0
        tracer.run = i if i >= 0 else None
        try:
            docs = wl.call(ctx, i)
        except Exception:  # one failed call must not end the closed loop
            ctx.attempted += 1
            ctx.failed += 1
            ctx.errors.append(f"call {i}: {traceback.format_exc()[-2000:]}")
            spark.catalog.clearCache()
            return ctx.op_s, 0
        return ctx.op_s, docs

    try:
        t = time.perf_counter()
        wl.setup(ctx)
        inputs_s = time.perf_counter() - t
        described = {**wl.describe(), "parquet_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(work) for f in files if f.endswith(".parquet"))}
        for w in range(wl.warmup):
            call(w - wl.warmup)
        setup_s = time.time() - t_proc
        phases = {"to_session_s": t_session - t_proc, "get_spark_s": get_spark_s,
                  "inputs_and_oracle_s": inputs_s,
                  "warmup_s": setup_s - (t_session - t_proc) - get_spark_s - inputs_s}

        calls = []
        steal0 = cpu_ticks()
        t_loop = time.perf_counter()
        # whole schedule cycles only, so every run has the same call mix
        while not calls or time.perf_counter() - t_loop < args.seconds:
            for _ in range(wl.cycle):
                calls.append(call(len(calls)))
        steal1 = cpu_ticks()
        prov = provenance(spark, n_cores, args.seed, described)
        # CPU time the hypervisor gave to other guests while calls ran
        prov["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    finally:
        peak_rss = rss.peak_bytes
        stop_spark(spark)

    ok_calls = [c for c in calls if c[1]]
    lat = sorted(c[0] for c in ok_calls)
    e2e = {
        "setup_s": (setup_s, "s"),
        # median over calls: a burst of CPU steal moves one call, not the run
        "docs_per_s": (statistics.median(d / t for t, d in ok_calls) if lat else 0.0, "docs/s"),
        "call_ms_p50": (statistics.median(lat) * 1e3 if lat else 0.0, "ms"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    extra = {
        "failed_ops_ratio": (ctx.failed / ctx.attempted if ctx.attempted else 1.0, "fraction"),
        "call_ms_p90": (
            statistics.quantiles(lat, n=10)[-1] * 1e3 if len(lat) >= P90_MIN_CALLS else None, "ms"),
        "calls": (len(calls), "count"),
    }
    result = {
        "workload": wl.name, "trace": args.trace, "seconds": args.seconds,
        "provenance": prov,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "setup_phases_s": phases,
        "call_s": [c[0] for c in calls],
        "op_s": ctx.ops,
        "attempted": ctx.attempted, "failed": ctx.failed, "errors": ctx.errors,
    }
    if args.trace:
        layers = layer_metrics(
            tracer.spans, read_event_log(log_dir), cores=n_cores,
            first_cycle=set(range(wl.cycle)),
        )
        layers["session.get_spark_s"] = get_spark_s
        result["per_layer"] = layers
        result["spans"] = tracer.spans
        result["tracing_overhead"] = tracing_overhead(wl.name, args, e2e)
    os.makedirs(RESULTS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out_path = os.path.join(RESULTS, f"{wl.name}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    print(f"{wl.name} seed={args.seed} {prov['master']} calls={len(calls)} -> {out_path}")
    for k, (v, u) in {**e2e, **extra}.items():
        print(f"  {k:<18} {'n/a' if v is None else f'{v:.6g}'} {u}")
    for err in ctx.errors[:5]:
        print(f"  ERROR {err}")

    if args.trace:
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def tracing_overhead(workload: str, args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, against the newest
    untraced result of the same workload and seed in perfbench/results/."""
    prefix = f"{workload}-s{args.seed}-t0-"
    if not os.path.isdir(RESULTS):
        return None
    prior = sorted(f for f in os.listdir(RESULTS) if f.startswith(prefix))
    if not prior:
        return None
    with open(os.path.join(RESULTS, prior[-1])) as fh:
        base = json.load(fh)["end_to_end"]
    return {
        k: {"traced": v, "untraced": base[k]["value"], "delta": v - base[k]["value"],
            "share": (v - base[k]["value"]) / base[k]["value"] if base[k]["value"] else None}
        for k, (v, _) in traced.items()
    }


if __name__ == "__main__":
    # import the benchmark as the package ``perfbench`` and the library
    # from the checkout root, not from this script's directory
    sys.path[0] = ROOT
    sys.exit(main())
