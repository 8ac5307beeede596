"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json in both modes and checks that each
run exits 0, passes every output check, and prints exactly the metrics
BENCHMARK.json lists for its mode, each with its unit.  Then checks that a
planted one-byte corruption of a block buffer (``codecs
--corrupt-one-byte``) is reported as failed operations, and that a
directory holding only BENCHMARK.json and perfbench/ makes the benchmark
exit non-zero without printing a result.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(cwd: str, *extra: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "2", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = bench(ROOT, "--workload", wl, "--trace", str(trace), "--scale", "tiny")
            tag = f"{wl} --trace {trace}"
            if rc != 0 or not out.strip():
                problems.append(f"{tag}: exit {rc}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} ops failed")
            print(f"{tag}: attempted {res['attempted']} failed {res['failed']}", flush=True)

    rc, out = bench(ROOT, "--workload", "codecs", "--scale", "tiny", "--corrupt-one-byte")
    res = json.loads(out.strip().splitlines()[-1]) if rc == 0 else {}
    if not res or res["correct"] or res["failed"] == 0:
        problems.append(f"planted corruption not reported: exit {rc}, {res and res['failed']}")
    print(f"corruption: exit {rc}, failed {res and res['failed']}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_cache", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out = bench(bare, "--workload", "codecs", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out.strip():
        problems.append(f"bare checkout: exit {rc}, printed {out.strip()[:80]!r}")
    print(f"bare checkout: exit {rc}", flush=True)

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
