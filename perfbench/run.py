"""Benchmark entry point for model_presto_spark.

Usage, from the root of a source checkout:

    python3 perfbench/run.py --workload headline-cold|corpus --seed N \\
        --seconds S --trace 0|1

The workloads are described in ``perfbench/README.md`` and the metric
names, units and bounds in ``BENCHMARK.json``. The last line of
standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

holding every ``end_to_end`` metric (``--trace 0``) or every
``per_layer`` metric (``--trace 1``). The line before it is a readable
summary. The full record of the run (host stamp, both metric sets that
exist, input sizes, output checks) goes to
``perfbench/out/<workload>-seed<N>-trace<T>.json`` and, for traced
runs, the spans to ``...-spans.json`` beside it.

Inputs, Spark's scratch space and all temporary files stay under
``perfbench/.cache``; the run stops the Spark JVM it started and waits
for it before exiting.
"""

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
TMP = os.path.join(ROOT, "perfbench", ".cache", "tmp")


def _bench_env() -> None:
    """Run Spark as ``local[nproc]`` and keep every temp file (Python's,
    the JVM's and Spark's) inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={TMP}".strip()


def _git_head() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_stamp() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_head": _git_head(),
        "loadavg": list(os.getloadavg()),
        "steal_s": steal_s(),
    }


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its Spark JVM child."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    proc = _jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    return mb


def stop_jvm() -> None:
    """Stop Spark, then close the JVM's stdin (its exit signal) and wait."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = _jvm_proc()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    if not os.path.isdir(os.path.join(ROOT, "model_presto_spark")):
        print(f"no model_presto_spark package under {ROOT}", file=sys.stderr)
        return 2
    _bench_env()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    stamp = host_stamp()
    run = Run(bool(args.trace), args.seconds, PROCESS_T0)
    try:
        result = WORKLOADS[args.workload](run, args.seed)
        result["e2e"]["peak_rss_mb"] = peak_rss_mb()
    finally:
        stop_jvm()
    stamp["loadavg_after"] = list(os.getloadavg())
    stamp["steal_s"] = steal_s() - stamp["steal_s"]

    values = {**result["e2e"], **result.get("layers", {})}
    failed = len(run.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": stamp,
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "failed_frac": failed / run.attempted,
        "failures": run.failures,
        "setup_wall_samples_s": run.setup_s,
        "setup_cpu_samples_s": run.setup_cpu_s,
        **result,
    }
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if run.tracer is not None:
        run.tracer.dump(stem + "-spans.json")

    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in wanted
    }
    shown = " ".join(f"{k}={v:.4g}" for k, v in values.items())
    latency = " ".join(
        f"{k}={v:.4g}s" if k.endswith("_s") else f"{k}={v}"
        for k, v in result["latency"].items()
    )
    print(
        f"{args.workload} seed={args.seed} nproc={stamp['nproc']} "
        f"failed_frac={record['failed_frac']:.4g} {latency} {shown} "
        f"sizes={result['sizes']}"
    )
    print(json.dumps({
        "correct": record["correct"],
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
