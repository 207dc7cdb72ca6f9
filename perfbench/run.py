"""Replay + analytics benchmark for s3_kinesis_replay_spark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run: build the seeded inputs (cached,
not timed), start the Spark session and warm up (``setup_s``), run timed
passes for ``--seconds``, check every output, and print a summary followed
by one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 1`` the metrics are the per-layer ones, and the spans are written
to ``.perfbench/traces/``. All scratch files live under ``.perfbench/`` in
the checkout; the per-run scratch directory is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("backfill", "paced-replay", "upsert-ingest", "analytics")
WARMUP_PASSES = 2
DRIVER_MEM = "2g"
DEADLINE_S = 170  # the run must end within 180 s
# the analytics tables: a copy of the repo's sf0.01 fixture
SF_DIR = ROOT / "perfbench" / "fixtures" / "sf0.01"

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "peak_rss_nonheap_mb": "MB",
    "heap_live_mb": "MB",
    "setup_s": "s",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def run_all(args) -> int:
    """Every workload, one process each; prints each summary in turn."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"{w}: exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        results[w] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}/{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def environment(tmp: Path) -> None:
    """Pin the program's knobs to this machine and keep every file it
    writes inside ``tmp``. Must run before pyspark starts a JVM."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
        "SKR_ARCHIVE_DIR": str(tmp / "archives"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # workers import the client and the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]),
        # no hsperfdata under /tmp; JVM temp files under tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    import tempfile

    tempfile.tempdir = str(tmp)


# files per trigger, per replaying workload
PACING = {"backfill": 20, "paced-replay": 4, "upsert-ingest": 1}


def make_inputs(name: str, seed: int, cache: Path):
    """Generate (or find cached) the workload's inputs: the timed archive
    and a short warm-up archive, or the analytics tables and oracle rows."""
    from perfbench import gen
    from perfbench.workloads import Upsert

    if name == "analytics":
        from perfbench.workloads import oracles

        return str(SF_DIR), gen.oracle_rows(cache, str(SF_DIR), oracles())
    # micro-batches per warm-up pass: upsert-ingest compacts once in
    # warm-up; paced-replay's batches keep getting faster (JIT) for about
    # twenty batches, and with four warm-up batches its runs spread widely
    warm_batches = {"upsert-ingest": Upsert.COMPACT_AT + 1, "paced-replay": 8}.get(name, 2)
    return (gen.archive(cache, name, seed),
            gen.archive(cache, name, seed, files=PACING[name] * warm_batches))


def build_workload(name, spark, tmp, tracer, seed, inputs):
    from perfbench.workloads import SANITIZE, Analytics, Replay, Upsert

    if name == "backfill":
        return Replay(spark, tmp, tracer, name, *inputs, files_per_trigger=PACING[name],
                      distributed=True, client_conf={}, sanitize=[])
    if name == "paced-replay":
        return Replay(spark, tmp, tracer, name, *inputs, files_per_trigger=PACING[name],
                      distributed=False,
                      client_conf={"service_ms": 5, "throttle_every": 3},
                      sanitize=SANITIZE)
    if name == "upsert-ingest":
        return Upsert(spark, tmp, tracer, *inputs, files_per_trigger=PACING[name])
    return Analytics(spark, tmp, tracer, *inputs, seed)


def run_one(args) -> dict:
    tmp = WORK / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    environment(tmp)
    sys.path.insert(0, str(ROOT))

    from perfbench import gen, procs
    from perfbench.tracing import Tracer
    from perfbench.workloads import pct

    cache = WORK / "cache"
    gen.prune_cache(cache)
    load0 = os.getloadavg()
    tracer = Tracer()
    spark = None
    try:
        # inputs first: generation is excluded from setup_s
        t = time.perf_counter()
        inputs = make_inputs(args.workload, args.seed, cache)
        gen_s = time.perf_counter() - t

        with procs.PeakRss() as rss:
            tracer.active = bool(args.trace)
            with tracer.span("get_spark"):
                t = time.perf_counter()
                from s3_kinesis_replay_spark import get_spark

                spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(tmp / "warehouse"),
                    # commit and touch the whole heap at start: heap growth
                    # during timing would otherwise page-fault at a cost that
                    # depends on how much memory the host reclaimed while idle
                    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
                })
                spark.sparkContext.setLogLevel("ERROR")
                start_s = time.perf_counter() - t
            w = build_workload(args.workload, spark, tmp, tracer, args.seed, inputs)
            with tracer.span("warmup"):
                t = time.perf_counter()
                w.warmup(WARMUP_PASSES)
                warmup_s = time.perf_counter() - t
            setup_s = time.perf_counter() - T_START - gen_s
            heap_mb, live_mb = _heap_mb(spark)
            w.measure(args.seconds, trace=bool(args.trace))
            per_layer = {}
            if args.trace:
                per_layer = {**w.per_layer(), **w.probes()}
        lat = w.latencies()
        e2e = {
            "throughput_per_s": w.throughput(),
            "latency_p50_s": w.latency_p50(),
            "peak_rss_nonheap_mb": rss.peak_mb - heap_mb,
            "heap_live_mb": live_mb,
            "setup_s": setup_s,
        }
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "unit_of_work": w.unit_of_work, "passes": len(w.passes),
            "latency_samples": len(lat), "latency_p90_s": pct(lat, 90),
            "gen_s": gen_s,
            "session.start_s": start_s, "session.warmup_s": warmup_s,
            "loadavg_before": load0, "loadavg_after": os.getloadavg(),
            "problems": w.problems[:20],
        }
        if args.trace:
            per_layer.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "trace.overhead_share": w.overhead(),
            })
            tracer.write(WORK / "traces" / f"{args.workload}-seed{args.seed}.json",
                         **info, end_to_end=e2e, per_layer=per_layer)
        return {"info": info, "e2e": e2e, "per_layer": per_layer, "w": w}
    finally:
        if spark is not None:
            spark.stop()
            _stop_gateway()
        procs.reap()
        shutil.rmtree(tmp, ignore_errors=True)


def _heap_mb(spark) -> tuple[float, float]:
    """The JVM heap's committed size, and the heap in use after a full GC.
    Taken once set-up is done, so the live heap is what the session holds
    after a fixed amount of work (the warm-up passes), not after however
    many timed passes fit in the run; the GCs stay out of the timing."""
    import gc

    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    committed = mx.getHeapMemoryUsage().getCommitted()
    # Python first: py4j keeps a JVM object alive while a Python proxy of
    # it exists. The first JVM GC queues Spark's ContextCleaner, which then
    # drops broadcast blocks and shuffle state on its own thread; the
    # second one collects what it released.
    gc.collect()
    mx.gc()
    time.sleep(1.0)
    mx.gc()
    return committed / 2**20, mx.getHeapMemoryUsage().getUsed() / 2**20


def _stop_gateway() -> None:
    """End the py4j gateway JVM now instead of at interpreter exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # noqa: BLE001 - shutting down; report and go on
        print(f"gateway shutdown: {e}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def report(args, res) -> dict:
    from perfbench.workloads import PER_LAYER, SUMMARY_ONLY

    w, info = res["w"], res["info"]
    shown = {}
    if args.trace:
        units = PER_LAYER
        metrics = {k: res["per_layer"].get(k, 0.0) for k in PER_LAYER}
        shown = {k: res["per_layer"].get(k, 0.0) for k in SUMMARY_ONLY}
    else:
        units, metrics = END_TO_END, res["e2e"]
    print(f"# {args.workload}: seed {args.seed}, {info['passes']} timed passes, "
          f"{info['latency_samples']} latency samples, unit of work = {info['unit_of_work']}")
    all_units = {**END_TO_END, **units, **SUMMARY_ONLY}
    for k, v in {**res["e2e"], **metrics, **shown}.items():
        print(f"{args.workload:14s} {k:42s} {v:14.4f} {all_units[k]}")
    print(f"# latency p90 {info['latency_p90_s']:.4f} s over {info['latency_samples']} samples "
          "(summary only: a p90 needs 100 samples per run)")
    print(f"# session.start_s {info['session.start_s']:.3f}  warmup_s "
          f"{info['session.warmup_s']:.3f}  inputs {info['gen_s']:.3f} s (not in setup_s)")
    print(f"# loadavg before {info['loadavg_before']}  after {info['loadavg_after']}")
    for p in info["problems"]:
        print(f"# FAILED CHECK: {p}")
    return {
        "correct": w.failed == 0,
        "attempted": int(w.attempted),
        "failed": int(w.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }


def _watchdog() -> None:
    from perfbench import procs

    print(f"run exceeded {DEADLINE_S} s; stopping", file=sys.stderr)
    procs.reap(timeout=2)
    shutil.rmtree(WORK / f"run-{os.getpid()}", ignore_errors=True)
    os._exit(3)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "s3_kinesis_replay_spark" / "__init__.py").is_file():
        print(f"program not found: {ROOT / 's3_kinesis_replay_spark'} is missing; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    timer = threading.Timer(DEADLINE_S, _watchdog)
    timer.daemon = True
    timer.start()
    res = run_one(args)
    out = report(args, res)
    timer.cancel()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
