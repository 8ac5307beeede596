"""Which operation sets each Python worker's memory high-water mark.

Runs one perfbench workload at ``local[nproc]`` (the same session, fixtures
and iterations as ``perfbench/run.py``) and samples every Spark Python
worker's resident set every 50 ms.  Each sample is charged to the
operation running at that moment (``checkpoint.encode_with_checkpoint``,
``gorilla_wire.decode_timeseries_wire``, ...).  Prints, per operation, the
peak of the summed worker RSS, the RSS of each worker at that peak and how
many workers reached their own high-water mark during that operation.

    python scripts/probe_worker_rss.py [--workload codecs] [--seed 4] [--iterations 3]

Run from the repository root.  The last line is a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    CACHE_DIR,
    NPROC,
    FixtureCache,
    Tracer,
    prepare_environment,
    python_workers,
    shutdown,
    start_session,
)

WARMUP = "warm-up"  # samples of the untimed warm-up iterations
BETWEEN = "between ops"


def worker_rss() -> dict[int, int]:
    """pid -> resident bytes of every Spark Python worker (and the daemon)."""
    out = {}
    for pid in python_workers():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return out


class OpSampler(Tracer):
    """A perfbench tracer that also samples worker RSS on a thread and
    charges each sample to the outermost span below ``iteration`` (the
    operation being timed), or to ``self.op`` outside any."""

    def __init__(self, spark, workload: str, interval_s: float = 0.05):
        super().__init__(spark, workload, record=False)
        self.interval_s = interval_s
        self.op = WARMUP
        self.peak: dict[str, tuple[int, dict[int, int]]] = {}  # op -> (sum, per pid)
        self.worker_high: dict[int, tuple[int, str]] = {}  # pid -> (rss, op)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-by-op", daemon=True)

    @contextmanager
    def span(self, name: str):
        outer = self.op
        if outer == BETWEEN and name != "iteration":
            self.op = name
        try:
            with super().span(name) as label:
                yield label
        finally:
            self.op = outer

    def sample(self) -> None:
        op, rss = self.op, worker_rss()
        total = sum(rss.values())
        if total > self.peak.get(op, (0, {}))[0]:
            self.peak[op] = (total, rss)
        if op == WARMUP:
            return
        for pid, b in rss.items():
            if b > self.worker_high.get(pid, (0, ""))[0]:
                self.worker_high[pid] = (b, op)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "OpSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="codecs")
    ap.add_argument("--seed", type=int, default=4)
    ap.add_argument("--scale", default="full")
    ap.add_argument("--iterations", type=int, default=3, help="sampled iterations after 2 warm-ups")
    args = ap.parse_args()

    prepare_environment()
    from perfbench.run import WARMUP_ITERATIONS, _warm_workers
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    run_dir = os.path.join(CACHE_DIR, f"probe-rss-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        spark = start_session(ui=False)
        spark.range(0, NPROC, 1, NPROC).mapInArrow(_warm_workers, "id long").collect()
        tracer = OpSampler(spark, wl.name)
        ctx = Ctx(spark, tracer, args.seed, SIZES[args.scale], FixtureCache(), run_dir)
        wl.prepare(ctx)
        failed = 0
        with tracer:
            for k in range(WARMUP_ITERATIONS + args.iterations):
                if k == WARMUP_ITERATIONS:
                    tracer.op = BETWEEN
                ops, _ = wl.iteration(ctx, k)
                failed += sum(not o.ok for o in ops)
            tracer.sample()
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    mb = 1 / 1e6
    ops = {}
    for op, (total, rss) in tracer.peak.items():
        ops[op] = {
            "peak_sum_mb": round(total * mb, 1),
            "workers_mb": sorted((round(b * mb, 1) for b in rss.values()), reverse=True),
            "high_water_workers": sum(o == op for _, o in tracer.worker_high.values()),
        }
    width = max(len(op) for op in ops)
    for op, row in ops.items():
        print(
            f"{op:<{width}}  peak {row['peak_sum_mb']:7.1f} MB over {len(row['workers_mb'])} "
            f"workers, high-water of {row['high_water_workers']}: {row['workers_mb']}"
        )
    print(json.dumps({"workload": wl.name, "seed": args.seed, "cpus": NPROC,
                      "iterations": args.iterations, "failed_ops": failed, "ops": ops}))


if __name__ == "__main__":
    main()
