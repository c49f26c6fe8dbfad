"""Fast self-check of the benchmark itself, at sf0.001-sized inputs.

    python3 perfbench/selfcheck.py [--workloads query_mix stream_upsert]

For each workload it runs ``run.py --tiny`` four times and asserts:

- untraced: correct, and every end-to-end metric of BENCHMARK.json is
  reported with its unit;
- traced: every per-layer metric is reported with its unit, and each
  op's span self times sum to the op's root span;
- ``--inject wrong`` (one op returns a wrong result) and ``--inject
  stage`` (one stage or Spark task fails): the run is not correct and
  the failure shows in ``success_rate`` / ``error_rate``.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, inject: str = "none", spans: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
           "--inject", inject]
    if spans:
        cmd += ["--spans", spans]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _expect_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        raise AssertionError(f"{what}: missing {missing}, unexpected {extra}, unit {wrong}")


def _check_self_times(path: str) -> int:
    """Each op's spans: self times (duration minus children) sum to the
    op's root span. Returns the number of ops checked."""
    spans = [json.loads(line) for line in open(path)]
    cover: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            cover[s["parent"]] += s["end"] - s["start"]
    total: dict[int, float] = defaultdict(float)
    root: dict[int, float] = {}
    for i, s in enumerate(spans):
        if s["op"] is None:
            continue
        total[s["op"]] += (s["end"] - s["start"]) - cover[i]
        if s["parent"] is None:
            root[s["op"]] = s["end"] - s["start"]
    for op, t in root.items():
        if abs(total[op] - t) > 1e-6:
            raise AssertionError(f"op {op}: self times sum to {total[op]}, root is {t}")
    if not root:
        raise AssertionError("traced run recorded no ops")
    return len(root)


def check(workload: str, spec: dict) -> None:
    clean = _run(workload, 0)
    _expect_metrics(clean, spec["end_to_end"], f"{workload} end-to-end")
    if not clean["correct"] or clean["metrics"]["success_rate"]["value"] != 1.0:
        raise AssertionError(f"{workload}: clean run not correct: {clean}")

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_check") as tmp:
        spans = os.path.join(tmp, "spans.jsonl")
        traced = _run(workload, 1, spans=spans)
        _expect_metrics(traced, spec["per_layer"], f"{workload} per-layer")
        ops = _check_self_times(spans)
    if traced["metrics"]["error_rate"]["value"] != 0.0:
        raise AssertionError(f"{workload}: clean traced run has errors")

    wrong = _run(workload, 0, inject="wrong")
    if wrong["correct"] or wrong["metrics"]["success_rate"]["value"] >= 1.0:
        raise AssertionError(f"{workload}: injected wrong result not counted: {wrong}")
    failed = _run(workload, 1, inject="stage")
    if failed["correct"] or failed["metrics"]["error_rate"]["value"] <= 0.0:
        raise AssertionError(f"{workload}: injected stage failure not counted: {failed}")
    print(f"{workload}: ok ({ops} traced ops; injected faults counted: "
          f"{wrong['failed']}/{wrong['attempted']} wrong, "
          f"{failed['failed']}/{failed['attempted']} failed)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description="benchmark self-check")
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    for workload in ap.parse_args().workloads:
        check(workload, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
