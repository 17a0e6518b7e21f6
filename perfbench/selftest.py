"""Self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at tiny size
(``--smoke``), and asserts that:

- each end-to-end metric of BENCHMARK.json prints with its unit, and the
  checks pass;
- the traced run prints every per-layer metric of BENCHMARK.json;
- the fresh-state guard trips on a reused checkpoint output directory.

Exits 0 when all of that holds.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], what: str) -> list[str]:
    errs = []
    if not (result["correct"] and result["failed"] == 0
            and result["attempted"] >= 1):
        errs.append(f"{what}: not correct: {result}")
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None:
            errs.append(f"{what}: {m['name']} missing")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            errs.append(f"{what}: {m['name']} printed as {got}")
    return errs


def check_guard() -> list[str]:
    """A second pass over a committed job's directory must raise."""
    from perfbench.run import Runner, parse_args, stop_processes
    from perfbench.workloads import FreshStateError, fresh_out_dir, run_bucket

    r = Runner(parse_args(["--workload", "geolocate_checkpointed",
                           "--seed", "7", "--seconds", "1", "--smoke"]))
    errs = []
    try:
        r.make_inputs()
        r.start()  # the warm-up commits job 0 in full
        done = r.w.out_dir(0)
        for attempt in (lambda: fresh_out_dir(done),
                        lambda: run_bucket(r.w.geolocate, r.w.pages, done,
                                           r.w.buckets)):
            try:
                attempt()
                errs.append("fresh-state guard did not trip on a reused dir")
            except FreshStateError:
                pass
    finally:
        import shutil
        try:
            stop_processes(getattr(r, "spark", None))
        finally:
            shutil.rmtree(r.run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(r.run_dir))
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]] + ["geolocate_checkpointed"]
    errs = []
    for w in names:
        errs += check_metrics(run(w, 0), spec["end_to_end"], f"{w} --trace 0")
        errs += check_metrics(run(w, 1), spec["per_layer"], f"{w} --trace 1")
        print(f"{w}: done", flush=True)
    errs += check_guard()
    for e in errs:
        print("FAIL", e)
    print("selftest:", "FAIL" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
