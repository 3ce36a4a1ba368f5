"""CDC replication benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench/work`` (gitignored), starts a SparkSession with
the program's own ``get_spark``, warms up, measures for ``--seconds``,
checks the outputs, and prints one JSON object as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` installs the layer probes, reports the per-layer metrics
and writes the span dump to ``.perfbench/traces``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """Epoch seconds at which this process started (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROC = process_start()


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM it launched."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        with open(f"/proc/{gw.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "migrator_spark", "__init__.py")):
        print(f"perfbench: no migrator_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    listed = args.workload in {w["name"] for w in spec["workloads"]}

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", tag)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # keep the JVM's temp files and perf-data file out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    time.tzset()
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args, work, wanted, units, listed)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, wanted: list[str], units: dict[str, str], listed: bool) -> int:
    import workloads
    from migrator_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](None, work, args.seed, args.seconds, bool(args.trace))
    wl.prepare()
    gen_s = time.perf_counter() - t

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - T_PROC - gen_s
    try:
        wl.spark = spark
        wl.run()
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    setup_s = session_s + wl.warmup_s + statistics.median(wl.construct_s)
    if args.trace and not listed:
        # a workload outside BENCHMARK.json reports its own layers
        wanted = ["session.start_s", *wl.layers]
        units = {k: units.get(k, "s" if k.endswith("_s") else "count") for k in wanted}
    values = {**wl.e2e, "setup_s": setup_s, "peak_rss_mb": rss, **wl.layer, "session.start_s": session_s}
    failed = wl.errors + len(wl.checks.failed)
    attempted = max(1, wl.attempted)
    if "first_error" in wl.dump:
        print(f"perfbench: first runner error: {wl.dump['first_error']}", file=sys.stderr)
    for name, ok, detail in wl.checks.results:
        if not ok:
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} failed_ratio={failed}/{attempted} "
        f"checks={len(wl.checks.results)} setup: session={session_s:.2f}s warmup={wl.warmup_s:.2f}s "
        f"construct={statistics.median(wl.construct_s):.3f}s inputs={wl.props} "
        f"detail={ {k: v for k, v in wl.dump.items() if k in ('rounds', 'stream', 'passes')} }",
        file=sys.stderr,
    )
    if args.trace:
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "inputs": wl.props,
                    "setup": {"session_s": session_s, "warmup_s": wl.warmup_s, "construct_s": wl.construct_s},
                    "metrics": {k: values[k] for k in wanted},
                    "checks": wl.checks.results,
                    **wl.dump,
                },
                f,
                default=str,
            )
        print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
