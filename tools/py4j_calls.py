"""Driver-side cost of building each benchmark workload's plan.

Counts the py4j round trips (`ClientServerConnection.send_command` calls) and
the wall time of building, not running, the plan of each perfbench workload:
- median_zonal: `MedianZonal.build` (raster_cube → apply_pixel → reduce_time →
  zonal_stats);
- text_dedup: the `driver.plan` block of `TextDedup.iterate` (read the
  documents, add the clones, `minhash_lsh_pairs`).
Each workload's input is written by its own `setup`, in a temporary directory
that is removed at the end. One untimed warm-up build precedes the timed ones.
py4j memory commands are not counted: py4j's finalizer thread sends them for
proxies that earlier work dropped, not for the build.

Usage: PYTHONPATH=. python tools/py4j_calls.py
Runs at local[<CPUs this process may use>] with the JVM's default JIT
settings (the benchmark runs median_zonal with C1 only). Prints one row per
workload (median over BUILDS builds) and a final JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BUILDS = 5
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def _text_dedup_build(spark, st):
    from pyspark.sql import functions as F

    from gdalcubes_spark.pipeline.dedup import minhash_lsh_pairs
    from workloads import CLONE_OFFSET
    d = spark.read.parquet(st["documents"])
    near = d.select((F.col("doc_id") + CLONE_OFFSET).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    return minhash_lsh_pairs(d.unionByName(near), threshold=0.7)


def main() -> None:
    sys.path[:0] = [ROOT, PERFBENCH]
    # workers unpickle the workloads' set-up functions by reference
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, PERFBENCH, os.environ.get("PYTHONPATH", "")])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import py4j.protocol
    from py4j.clientserver import ClientServerConnection

    from gdalcubes_spark.pipeline.dedup import release_caches
    from gdalcubes_spark.session import get_spark
    from workloads import MedianZonal, TextDedup

    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *a, **k):
        if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(self, command, *a, **k)

    work = tempfile.mkdtemp(prefix="py4j_calls-")
    spark = get_spark("py4j_calls", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    ClientServerConnection.send_command = counting
    result = {}
    try:
        mz = MedianZonal()
        for wl, build in ((mz, mz.build), (TextDedup(), _text_dedup_build)):
            st = wl.setup(spark, os.path.join(work, wl.name), 1)
            trips, walls = [], []
            for i in range(BUILDS + 1):
                release_caches()
                calls[0] = 0
                t0 = time.perf_counter()
                build(spark, st)
                if i:  # the first build is the warm-up
                    walls.append(time.perf_counter() - t0)
                    trips.append(calls[0])
            release_caches()
            result[wl.name] = {"round_trips": statistics.median(trips),
                               "build_s": round(statistics.median(walls), 4)}
            print(f"{wl.name:>14}: {result[wl.name]['round_trips']:>6} round trips, "
                  f"{result[wl.name]['build_s']:.3f} s per build (median of {BUILDS})")
    finally:
        ClientServerConnection.send_command = send
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
