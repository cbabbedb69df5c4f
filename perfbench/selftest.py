#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at tiny size through ``run.py`` (untraced, traced,
and untraced with one output corrupted) and checks that

* the printed metric names and units are exactly the ones BENCHMARK.json
  lists (end-to-end untraced, per-layer traced);
* a clean run is correct with nothing failed;
* a corrupted output is counted as a failed operation;
* a corrupted trace span is counted as invalid;
* in a directory holding only BENCHMARK.json and perfbench/, the run
  exits non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--tiny", *extra],
        capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} {extra} exited "
                           f"{out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    from harness import Tracer
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    # every workload run.py offers, listed in BENCHMARK.json or not
    for name in WORKLOADS:
        for trace, want in ((0, e2e), (1, layers)):
            r = run(name, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == want, f"{name} trace={trace}: metric names and "
                   "units match BENCHMARK.json")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{name} trace={trace}: clean run correct")
        r = run(name, 0, "--corrupt")
        expect(not r["correct"] and r["failed"] >= 1,
               f"{name}: a corrupted output counts as a failure")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    expect(out.returncode != 0 and not out.stdout.strip(),
           "without the engine package the run fails and prints no result")
    shutil.rmtree(bare)

    tracer = Tracer(True)
    with tracer.span("outer"):
        with tracer.span("inner") as inner:
            pass
    expect(tracer.invalid_spans() == [], "well-formed spans are valid")
    inner["end"] = inner["start"] - 1.0
    expect(tracer.invalid_spans() == [inner["id"]],
           "a corrupted span is counted as invalid")
    print(json.dumps({"selftest_ok": not problems, "problems": problems}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
