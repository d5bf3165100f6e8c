"""Self-test of the benchmark on the smallest fixture (sf0.001).

    python3 perfbench/selftest.py

Checks, each in a fresh process:
- one pass of every workload, untraced and traced, prints every metric
  named in BENCHMARK.json with its unit, and reports no failure;
- a deliberately corrupted expected digest is reported as a failure;
- a directory holding only BENCHMARK.json and the benchmark exits non-zero
  without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(cwd: str, *args: str) -> tuple[int, str]:
    r = subprocess.run([*RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=300)
    return r.returncode, r.stdout


def result(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    named = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    errors = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, out = run(ROOT, "--workload", wl, "--seed", "1", "--seconds", "1",
                            "--trace", str(trace), "--lane", "sf0.001")
            res = result(out) if code == 0 else {}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            if code != 0 or not res["correct"] or res["failed"] or got != named[trace]:
                errors.append(f"{wl} trace={trace}: exit {code}, result {res}")
            print(f"{wl} trace={trace}: exit {code}, {len(got)} metrics")

    code, out = run(ROOT, "--workload", "headline", "--seed", "1", "--seconds", "1",
                    "--trace", "0", "--lane", "sf0.001", "--corrupt-expected")
    res = result(out) if code == 0 else {}
    if res.get("correct") is not False or not res.get("failed"):
        errors.append(f"corrupted digest not reported as a failure: exit {code}, {res}")
    print(f"corrupted digest: correct={res.get('correct')} failed={res.get('failed')}")

    bare = os.path.join(ROOT, ".perfbench-work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out = run(bare, "--workload", "headline", "--seed", "1", "--seconds", "1",
                        "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    lines = out.strip().splitlines()
    if code == 0 or (lines and lines[-1].startswith("{")):
        errors.append(f"bare checkout: exit {code}, stdout {out[-300:]!r}")
    print(f"bare checkout: exit {code}")

    for e in errors:
        print(f"FAIL {e}")
    print("selftest " + ("failed" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
