"""Benchmark entry point.

    python3 perfbench/run.py --workload curate|query_mix|stream_upsert \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed inside ``.perfbench_work/`` (removed at exit), runs the engine in
``local[<cores>]`` from this one client process, checks every op's
output, and prints one JSON object as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero, printing no result, when the engine
package is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curate", "query_mix", "stream_upsert")
UNITS = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "ops_per_s": "1/s", "rows_per_s": "rows/s", "success_rate": "ratio",
         "peak_rss_mb": "MiB"}


def _environment(work: str) -> None:
    """Everything the JVM and its Python workers inherit must be set
    before the first session starts: workers import the engine package
    from the checkout, and every temporary file stays in ``work``."""
    for sub in ("tmp", "spark-local", "hadoop"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files in ``work``, and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _shutdown(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait for them to end."""
    from pyspark import SparkContext

    from counters import descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="also write the traced run's spans (JSON lines) here")
    ap.add_argument("--tiny", action="store_true", help="self-check sizes (sf0.001)")
    ap.add_argument("--inject", choices=("none", "wrong", "stage"), default="none",
                    help="self-check fault: a wrong op output or a failed stage")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "event_pipeline_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    sys.path.insert(0, ROOT)

    import harness
    from counters import RssSampler
    from spans import Tracer

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    ctx = harness.Context(work=work, seed=args.seed, seconds=args.seconds,
                          tracer=Tracer(bool(args.trace)), tiny=args.tiny, inject=args.inject)
    module = __import__(args.workload)
    workload = module.WORKLOAD(ctx)
    try:
        with RssSampler() as rss:
            setup = workload.setup()
            first, ops = workload.measure(bool(args.trace))
        warm = workload.warm
        ids = list(range(workload.first_timed, workload.first_timed + len(ops)))
        if args.trace:
            values = harness.per_layer(ctx.tracer, first, ops, cores, ids, warm)
            units = {k: harness.PER_LAYER_UNITS.get(k, "s") for k in values}
            if args.spans:
                ctx.tracer.dump(args.spans)
        else:
            values = harness.end_to_end(setup, first, ops, rss.peak_mb, workload.busy, warm)
            units = UNITS
        checked = [first, *warm, *ops]
        failed = sum(1 for r in checked if r.failures)
        for n, r in enumerate(checked):
            for f in r.failures[:3]:
                print(f"op {n} failed: {f}", file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
    finally:
        _shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("inputs " + json.dumps(workload.inputs))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
