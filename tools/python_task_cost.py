"""Per-task fixed cost of a Python (Arrow) UDF task on this host.

Times an identity `mapInPandas` + collect over a cached 64-row frame split
into 1, p, 2p, 4p and 8p partitions (p = the session's defaultParallelism),
next to a JVM-only collect of the same frame. With p cores, n partitions run
in ceil(n / p) waves, so the growth from p to 8p partitions is the cost of a
wave of Python tasks. `input_wait_ms` is the Python side's wait in one task
of a `mapInArrow` over the same frame, from UDF entry to the end of its input
(median over tasks and runs): the time a task's few Arrow batches take to
reach the worker, which depends on the JVM↔worker socket (loopback TCP or,
with `spark.python.unix.domain.socket.enabled`, a Unix domain socket). The
engine's tensor-UDF stages are pinned to one wave
(`cube.pin_group_partitions`); this table is how to re-check that rule on
another host. The session runs the engine's worker daemon
(`session.WORKER_DAEMON`), as every engine session does.

Usage: PYTHONPATH=. python tools/python_task_cost.py
Runs at local[<CPUs this process may use>]. Prints one table row per
partition count (median of 3 timed runs after one warm-up run) and a final
JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pandas as pd
import pyarrow as pa

REPEATS = 3


def _identity(batches):
    for pdf in batches:
        yield pdf


def _input_wait(batches):
    t0 = time.perf_counter()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"ms": [(time.perf_counter() - t0) * 1e3]})


def _median_input_wait_ms(df) -> float:
    def run():
        return [r["ms"] for r in df.mapInArrow(_input_wait, "ms double").collect()]

    run()  # warm-up
    return statistics.median(w for _ in range(REPEATS) for w in run())


def _timed(fn) -> float:
    fn()  # warm-up: worker start, JIT
    xs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return statistics.median(xs)


def main() -> None:
    cores = len(os.sched_getaffinity(0))
    from pyspark.sql import SparkSession

    from gdalcubes_spark.session import WORKER_DAEMON
    spark = (SparkSession.builder.master(f"local[{cores}]").appName("python_task_cost")
             .config("spark.python.daemon.module", WORKER_DAEMON)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "1g")
             # C1 only, as the median_zonal benchmark workload runs
             .config("spark.driver.extraJavaOptions", "-XX:TieredStopAtLevel=1")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        p = spark.sparkContext.defaultParallelism
        rows = []
        for n in (1, p, 2 * p, 4 * p, 8 * p):
            df = spark.range(64).repartition(n).cache()
            df.count()
            py_s = _timed(lambda: df.mapInPandas(_identity, df.schema).collect())
            jvm_s = _timed(lambda: df.collect())
            wait_ms = _median_input_wait_ms(df)
            df.unpersist()
            rows.append(dict(partitions=n, waves=-(-n // p), python_s=round(py_s, 3), jvm_s=round(jvm_s, 3),
                             input_wait_ms=round(wait_ms, 1)))
        print(pd.DataFrame(rows).to_string(index=False))
        print(json.dumps(dict(cores=cores, parallelism=p, repeats=REPEATS, rows=rows)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
