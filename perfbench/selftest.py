"""Self-test of the benchmark: a tiny pass of every workload.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --size tiny`` untraced and traced and
checks that every end-to-end and every per-layer metric is emitted with
its unit and that every repetition passed its oracle. It then checks
that a rank vector corrupted by twice the oracle's tolerance is counted
in ``fail_ratio``,
and that the benchmark refuses to run, without printing a result, in a
directory that holds only itself. Takes a few minutes; exits non-zero
and names the problem on the first failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import benchenv
from run import E2E_UNITS, LAYER_UNITS, WORKLOADS

HERE = Path(__file__).resolve().parent


class SelfTestError(AssertionError):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SelfTestError(what)


def run_tiny(*args: str, cwd: Path = benchenv.ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--size", "tiny",
         "--seconds", "1", "--seed", "1", *args],
        cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result


def check_result(result: dict | None, units: dict, what: str) -> dict:
    _check(result is not None, f"{what}: no result line")
    _check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {sorted(result)}")
    _check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
           f"{what}: {result['failed']} of {result['attempted']} repetitions failed")
    metrics = result["metrics"]
    _check(set(metrics) == set(units), f"{what}: metrics {sorted(set(metrics) ^ set(units))}")
    for name, unit in units.items():
        m = metrics[name]
        _check(m["unit"] == unit, f"{what}: {name} has unit {m['unit']}, not {unit}")
        _check(isinstance(m["value"], (int, float)), f"{what}: {name} is not a number")
    return {k: m["value"] for k, m in metrics.items()}


def main() -> int:
    for name in WORKLOADS:
        _, result = run_tiny("--workload", name, "--trace", "0")
        e2e = check_result(result, E2E_UNITS, f"{name} trace 0")
        _check(all(v > 0 for v in e2e.values()), f"{name}: an end-to-end metric is 0: {e2e}")
        _, result = run_tiny("--workload", name, "--trace", "1")
        layers = check_result(result, LAYER_UNITS, f"{name} trace 1")
        _check(layers["fail_ratio"] == 0 and layers["superstep.count"] > 0,
               f"{name}: per-layer {layers}")
        if name == "cc_ckpt":
            for key in ("cc.frontier", "checkpoint.save_s", "checkpoint.bytes",
                        "checkpoint.load_s", "checkpoint.resume_s"):
                _check(layers[key] > 0, f"{name}: {key} is {layers[key]}")
        print(f"selftest: {name} ok", file=sys.stderr)

    _, result = run_tiny("--workload", "scaled_pr", "--trace", "1", "--corrupt-ranks")
    _check(result is not None and not result["correct"]
           and result["failed"] == result["attempted"]
           and result["metrics"]["fail_ratio"]["value"] == 1.0,
           f"corrupted ranks not counted as failures: {result}")
    print("selftest: corrupted ranks counted in fail_ratio", file=sys.stderr)

    alone = benchenv.SCRATCH / "selftest-alone"
    shutil.rmtree(alone, ignore_errors=True)
    try:
        shutil.copytree(HERE, alone / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(benchenv.ROOT / "BENCHMARK.json", alone)
        code, result = run_tiny("--workload", "scaled_pr", cwd=alone)
        _check(code != 0 and result is None,
               f"benchmark without the program exited {code} with {result}")
    finally:
        shutil.rmtree(alone, ignore_errors=True)
    print("selftest: refuses to run without the program", file=sys.stderr)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SelfTestError as exc:
        print(f"selftest FAILED: {exc}", file=sys.stderr)
        sys.exit(1)
