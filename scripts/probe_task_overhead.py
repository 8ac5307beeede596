"""Fixed cost of one Python task, with no data to speak of.

Runs jobs of one-row partitions (one per core) through a ``mapInArrow``
that imports the engine, at ``local[nproc]``, and prints per task:

- the median CPU seconds the Python workers spent (from ``/proc``);
- how many ``zipimport.zipimporter`` objects a worker holds in
  ``sys.path_importer_cache``;
- how many times a worker re-read a zip archive's central directory
  (``zipimport._read_directory`` calls).

On CPython 3.10-3.12 without the engine's stat-keyed cache
(``gorilla_stream_spark/_worker.py``) each task re-reads every archive once
per zipimporter, ~0.2 CPU-s per task; with it the reads drop to 0.

    python scripts/probe_task_overhead.py [--jobs 10] [--cpus N]

Run from the repository root.  The last line is a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import _TICK, _proc_table, python_workers  # noqa: E402


def _task(batches):
    import sys
    import zipimport

    import pyarrow as pa

    import gorilla_stream_spark  # noqa: F401  (installs the cache, if the package has it)

    read = zipimport._read_directory
    if not hasattr(read, "calls"):
        # counts from the next task's invalidate_caches() on

        def counted(archive, _read=read):
            counted.calls += 1
            return _read(archive)

        counted.calls = 0
        zipimport._read_directory = read = counted
    for _ in batches:
        pass
    n_zip = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    cached = getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "zipimporters": [n_zip], "reads": [read.calls], "cached": [cached]}
    )


def worker_cpu_s() -> float:
    """CPU seconds of every python process below this driver process."""
    table = _proc_table()
    return sum(table[p][2] for p in python_workers() if p in table) / _TICK


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=10, help="measured jobs (after 2 warm-up jobs)")
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    from gorilla_stream_spark.session import get_spark

    n = args.cpus
    spark = get_spark(app_name="probe_task_overhead", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    schema = "pid long, zipimporters long, reads long, cached boolean"
    df = spark.range(0, n, 1, n).mapInArrow(_task, schema)

    last_reads: dict[int, int] = {}
    cpu, wall, reads, n_zip, cached = [], [], [], [], set()
    try:
        for job in range(2 + args.jobs):
            c0, t0 = worker_cpu_s(), time.perf_counter()
            rows = df.collect()
            wall_s, cpu_s = time.perf_counter() - t0, worker_cpu_s() - c0
            tasks: dict[int, int] = {}
            job_reads: dict[int, int] = {}
            for r in rows:
                tasks[r.pid] = tasks.get(r.pid, 0) + 1
                job_reads[r.pid] = max(job_reads.get(r.pid, 0), r.reads)
            if job >= 2:
                cpu.append(cpu_s / n)
                wall.append(wall_s)
                n_zip.extend(r.zipimporters for r in rows)
                cached.update(r.cached for r in rows)
                reads.extend(
                    (job_reads[p] - last_reads[p]) / tasks[p] for p in job_reads if p in last_reads
                )
            last_reads.update(job_reads)
    finally:
        spark.stop()

    out = {
        "cpus": n,
        "python": sys.version.split()[0],
        "stat_keyed_cache": all(cached),
        "tasks_per_job": n,
        "jobs": args.jobs,
        "worker_cpu_s_per_task_median": round(statistics.median(cpu), 4),
        "job_wall_s_median": round(statistics.median(wall), 4),
        "zipimporters_per_worker_median": statistics.median(n_zip),
        "zip_directory_reads_per_task_median": statistics.median(reads) if reads else None,
    }
    print(
        f"python worker CPU per task {out['worker_cpu_s_per_task_median']:.3f} s, "
        f"{out['zipimporters_per_worker_median']:g} zipimporters per worker, "
        f"{out['zip_directory_reads_per_task_median']} zip directory reads per task, "
        f"job wall {out['job_wall_s_median']:.3f} s"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
