"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload codecs --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts a single driver process at
``local[<cpus>]``, sets up the Spark session several times (``setup_s`` is
the median), builds or reuses the workload's fixtures for ``--seed``, then
runs two untimed warm-up iterations and then the workload closed-loop for
about ``--seconds``: one Spark job at a time, each iteration starting when
the previous one ends, every output checked.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.  ``--trace
1`` alternates untraced and traced iterations (the ratio of their medians
is the tracing overhead), then runs the per-layer probes and reports the
per-layer metrics; it also writes the spans to ``.perfbench_out/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the run identity (cpus, versions, seed, host
probe around the workload), fixture generation time and the named
per-workload metrics.  Exit code 2 means the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from time import perf_counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    NPROC,
    OUT_DIR,
    ROOT,
    CACHE_DIR,
    FixtureCache,
    RssSampler,
    Tracer,
    calib_probe,
    host_ticks,
    median,
    prepare_environment,
    python_workers,
    shutdown,
    start_session,
    steal_share,
)
from perfbench.workloads import EXTRA_UNITS  # noqa: E402

SETUP_REPS = 3
# on its second iteration the JVM still runs slower, not yet compiled code
# and compiles about twice as much as later on, so two iterations run untimed
WARMUP_ITERATIONS = 2
MIN_ITERATIONS = 3


def _warm_workers(batches):
    import gorilla_stream_spark.engine  # noqa: F401
    import gorilla_stream_spark.gorilla_wire  # noqa: F401
    import gorilla_stream_spark.packing  # noqa: F401
    import gorilla_stream_spark.textops  # noqa: F401

    yield from batches


def setup(ui: bool) -> tuple[object, list[float]]:
    """Start the session and warm it (one Python worker per core, each with
    the package imported) ``SETUP_REPS`` times; the first start also
    launches the JVM.  Returns the last session and every set-up time."""
    times, spark = [], None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = perf_counter()
        spark = start_session(ui=ui)
        spark.range(0, NPROC, 1, NPROC).mapInArrow(_warm_workers, "id long").collect()
        times.append(perf_counter() - t0)
    return spark, times


def measure(
    ctx, wl, seconds: float, first: int, min_iters: int = MIN_ITERATIONS, alternate: bool = False
) -> dict:
    """Closed loop for about ``seconds``: at least ``min_iters`` iterations,
    and no new one once it would end more than half an iteration late.
    Iterations are numbered from ``first``; with ``alternate`` they record
    spans in the order off, on, on, off, ... so a steady drift (the JVM still
    warming) cancels out of the traced/untraced comparison."""
    iters, walls = [], []
    t_end = perf_counter() + seconds
    with RssSampler() as rss:
        while len(iters) < min_iters or perf_counter() + median(walls) / 2 < t_end:
            k = first + len(iters)
            ctx.tracer.iteration = f"{wl.name}-{k}"
            ctx.tracer.record = alternate and len(iters) % 4 in (1, 2)
            t0 = perf_counter()
            with ctx.tracer.span("iteration"):
                ops, extras = wl.iteration(ctx, k)
            walls.append(perf_counter() - t0)
            iters.append({"ops": ops, "extras": extras, "workers": len(python_workers())})
    return {"iters": iters, "peak_rss_bytes": rss.peak_bytes}


def summarize(wl, ctx, loop: dict) -> dict:
    """Iteration times, per-op named rates and check results.

    An iteration's wall, CPU and JIT time are each the sum over its ops of
    that op's median over the iterations: one slow op in one iteration
    moves only that op's median."""
    iters = loop["iters"]
    ops = [o for it in iters for o in it["ops"]]
    for o in ops:
        if not o.ok:
            print(f"perfbench: {o.name} failed: {o.error}", file=sys.stderr)
    per_op: dict[str, list] = {}
    for o in ops:
        per_op.setdefault(o.name, []).append(o)

    def iteration(attr: str) -> float:
        return sum(median([getattr(o, attr) for o in v]) for v in per_op.values())

    named = {}
    for metric, (op_name, unit) in wl.rates.items():
        runs = per_op[op_name]
        named[metric] = {"value": runs[0].items / median([o.seconds for o in runs]), "unit": unit}
    for key in sorted({k for it in iters for k in it["extras"]}):
        vals = [it["extras"][key] for it in iters if key in it["extras"]]
        named[key] = {"value": median(vals), "unit": EXTRA_UNITS[key]}
    return {
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "iteration_s": iteration("seconds"),
        "iteration_cpu_s": iteration("cpu_s"),
        "iteration_jit_s": iteration("jit_s"),
        "ops": {
            name: {
                "wall_s": [round(o.seconds, 4) for o in v],
                "cpu_s": [round(o.cpu_s, 3) for o in v],
                "jit_s": [round(o.jit_s, 3) for o in v],
                "steal": [round(o.steal, 4) for o in v],
            }
            for name, v in per_op.items()
        },
        "iteration_walls": [round(sum(o.seconds for o in it["ops"]), 4) for it in iters],
        "iteration_workers": [it["workers"] for it in iters],
        "named": named,
        "peak_rss_mb": loop["peak_rss_bytes"] / 1e6,
    }


def run(args, spec: dict) -> tuple[dict, dict]:
    from perfbench.layers import PROBES, settled_stage_metrics, spark_use
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    run_dir = os.path.join(CACHE_DIR, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    ticks0 = host_ticks()
    detail = {"calib_before_s": calib_probe()}
    spark = None
    try:
        spark, setup_times = setup(ui=bool(args.trace))
        tracer = Tracer(spark, wl.name, record=False)
        ctx = Ctx(spark, tracer, args.seed, SIZES[args.scale], FixtureCache(), run_dir,
                  corrupt=args.corrupt_one_byte)
        t0 = perf_counter()
        with tracer.span("fixtures"):
            detail["fixtures_reused"] = wl.prepare(ctx)
        detail["fixture_gen_s"] = perf_counter() - t0
        detail["setup_reps_s"] = setup_times
        # untimed iterations first: JIT, plan codegen and the extra
        # Python workers of chained kernels settle before timing; their
        # checks still count
        warm = summarize(wl, ctx, measure(ctx, wl, 0, first=0, min_iters=WARMUP_ITERATIONS))
        detail["warmup_walls_s"] = warm["iteration_walls"]

        if not args.trace:
            res = summarize(wl, ctx, measure(ctx, wl, args.seconds, first=WARMUP_ITERATIONS))
            metrics = {
                "setup_s": median(setup_times),
                "iteration_cpu_s": res["iteration_cpu_s"],
                "peak_rss_mb": res["peak_rss_mb"],
            }
        else:
            from gorilla_stream_spark.metrics import StageMetricsCollector

            collector = StageMetricsCollector(spark)
            loop = measure(ctx, wl, args.seconds, first=WARMUP_ITERATIONS, min_iters=4, alternate=True)
            stages = settled_stage_metrics(spark, collector)
            tracer.record = True
            traced = [i % 4 in (1, 2) for i in range(len(loop["iters"]))]
            plain = summarize(wl, ctx, {**loop, "iters": [
                it for it, t in zip(loop["iters"], traced) if not t]})
            res = summarize(wl, ctx, {**loop, "iters": [
                it for it, t in zip(loop["iters"], traced) if t]})
            extras = {k: v["value"] for k, v in res["named"].items()}
            metrics = {name: 0 for name in spec["per_layer"]}
            metrics.update(spark_use(stages))
            metrics.update(PROBES[wl.name](ctx, extras))
            metrics["trace.overhead_ratio"] = res["iteration_s"] / plain["iteration_s"]
            for key in ("attempted", "failed"):
                res[key] += plain[key]
            spans_path = os.path.join(OUT_DIR, f"spans-{wl.name}-s{args.seed}.json")
            tracer.write(spans_path)
            detail["spans_file"] = os.path.relpath(spans_path, ROOT)
            detail["self_s"] = tracer.self_times()
            detail["untraced_iteration_s"] = plain["iteration_s"]
            detail["stage_metrics"] = stages
        detail.update(
            iteration_walls_s=res["iteration_walls"],
            ops=res["ops"],
            python_workers=warm["iteration_workers"] + res["iteration_workers"],
            named={
                "setup_s": {"value": median(setup_times), "unit": "s"},
                "error_rate": {
                    "value": (res["failed"] + warm["failed"]) / (res["attempted"] + warm["attempted"]),
                    "unit": "failed/attempted",
                },
                "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
                "iteration_cpu_s": {"value": res["iteration_cpu_s"], "unit": "s"},
                "iteration_s": {"value": res["iteration_s"], "unit": "s"},
                "iteration_jit_s": {"value": res["iteration_jit_s"], "unit": "s"},
                **res["named"],
            },
        )
        outcome = {
            "attempted": res["attempted"] + warm["attempted"],
            "failed": res["failed"] + warm["failed"],
        }
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["calib_after_s"] = calib_probe()
    detail["steal_share"] = steal_share(ticks0, host_ticks())
    if args.trace:
        metrics["host.calib_s"] = (detail["calib_before_s"] + detail["calib_after_s"]) / 2
    return {**outcome, "metrics": metrics}, detail


def identity(args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": NPROC,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input sizes (tiny is for the self-test)")
    ap.add_argument("--corrupt-one-byte", action="store_true",
                    help="codecs: flip one byte of one block buffer before each decode (self-test)")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "gorilla_stream_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from a checkout holding gorilla_stream_spark/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    spec = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}

    prepare_environment()
    try:
        result, detail = run(args, spec)
    except Exception:
        traceback.print_exc()
        return 1
    if set(result["metrics"]) != set(spec[kind]):
        print(f"perfbench: emitted metrics differ from BENCHMARK.json {kind}: "
              f"{sorted(set(result['metrics']) ^ set(spec[kind]))}", file=sys.stderr)
        return 1
    final = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": float(result["metrics"][name]), "unit": unit}
            for name, unit in spec[kind].items()
        },
    }
    detail = {"identity": identity(args), **detail}
    os.makedirs(OUT_DIR, exist_ok=True)
    out_path = os.path.join(
        OUT_DIR, f"result-{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(out_path, "w") as f:
        json.dump({**detail, "result": final}, f, indent=1)
    print(json.dumps(detail), flush=True)
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
