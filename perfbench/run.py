"""Cube-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the engine package is imported from
`./gdalcubes_spark` and nothing else of the repository is used. Everything the
run writes goes under `./.perfbench_work/`.

Each workload runs as a closed loop with one client on a single-process
`local[nproc]` Spark session, against an input written during set-up. An
untraced run makes the workload's fixed numbers of untimed warm-up and timed
iterations (`WARMUP`, `TIMED` in workloads.py) and reports the best timed one;
a traced run makes three. `--seconds` changes neither, so the sample count
never depends on the speed of the code under test. The last stdout line is one
JSON object {correct, attempted, failed, metrics}: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it
records the run's context (cores, driver memory, load average at start and
end, every iteration's wall time, CPU time and hypervisor steal).
See perfbench/README.md for the workloads and the layer-to-metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
DECODE_SAMPLE = 24  # payloads per format timed in the benchmark process

# every per-layer metric a traced run prints (0 where a workload has no such
# layer), with its unit; BENCHMARK.json lists the same names
PER_LAYER = {
    "driver.plan_s": "s", "setup.session_s": "s", "setup.inventory_s": "s",
    "codecs.decode_ms.jpeg": "ms", "codecs.decode_ms.png": "ms", "codecs.decode_ms.raw": "ms",
    "raster_cube.self_s": "s", "raster_cube.task_skew": "ratio", "raster_cube.shuffle_write_mb": "MB",
    "raster_cube.spill_mb": "MB", "raster_cube.placements": "count",
    "apply_pixel.self_s": "s", "reduce.self_s": "s", "reduce.shuffle_write_mb": "MB",
    "extract_geom.self_s": "s", "extract_geom.shuffle_write_mb": "MB", "extract_geom.rows_out": "count",
    "checkpoint.write_s": "s", "checkpoint.bytes_written_mb": "MB", "checkpoint.resume_s": "s",
    "checkpoint.resumed_chunks": "count", "dedup.lsh_s": "s", "components.cc_s": "s",
    "spark.stages": "count", "spark.tasks": "count",
    **{f"arrow.{d}_python_mb.{layer}": "MB" for d in ("to", "from")
       for layer in ("raster_cube", "apply_pixel", "reduce", "extract_geom", "checkpoint")},
    "trace.overhead_frac": "ratio", "trace.iterations": "count",
}


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2 ** 20
    return 8.0


def configure(root: str, work: str, trace: bool, java_opts: str) -> dict:
    """Environment for the JVM, the Python workers and the engine's session
    helper. Must run before pyspark launches the JVM."""
    cores = len(os.sched_getaffinity(0))
    # local mode runs every executor inside the driver JVM; a quarter of the
    # host, at most 4 GB, instead of session.py's 48g default, and the heap
    # starts at that size. defaultJavaOptions, because session.py sets
    # extraJavaOptions
    mem = f"{max(1, min(4, int(host_memory_gb() // 4)))}g"
    conf = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf, tmp):
        os.makedirs(d, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false", f"spark.local.dir {os.path.join(work, 'local')}",
             f"spark.driver.defaultJavaOptions -Xms{mem} {java_opts}".rstrip()]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        lines += ["spark.eventLog.enabled true", "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false",
                  f"spark.eventLog.dir file://{os.path.join(work, 'eventlog')}"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\nappender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    os.environ.update(
        SPARK_CONF_DIR=conf, SPARK_LOCAL_DIRS=os.path.join(work, "local"), TMPDIR=tmp,
        # keep the JVM's temp files in the checkout; UsePerfData would write /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_DRIVER_MEM=mem,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        # workers import the engine and the workload module (cloudpickle
        # pickles importable functions by reference)
        PYTHONPATH=os.pathsep.join([root, HERE]),
    )
    return {"cores": cores, "driver_mem": mem, "java_opts": java_opts}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def decode_ms(wl, seed: int) -> dict:
    """codecs.decode per payload, timed in this process on payloads of the
    workload's own inventory (synth.make_row); 0 for formats it lacks."""
    from gdalcubes_spark import codecs
    from gdalcubes_spark.synth import make_row
    out = {f: 0.0 for f in ("jpeg", "png", "raw")}
    if not hasattr(wl, "payload_ids"):
        return out
    lay = wl.layout()
    by_fmt: dict = {}
    for i in wl.payload_ids(seed):
        f = lay.params(i)["fmt"]
        if len(by_fmt.setdefault(f, [])) < DECODE_SAMPLE:
            by_fmt[f].append(i)
    for f, ids in by_fmt.items():
        times = []
        for i in ids:
            b = bytes(make_row(i, lay)["bytes"])
            for _ in range(3):
                t = time.perf_counter()
                codecs.decode(b, f)
                times.append(time.perf_counter() - t)
        out[f] = 1000 * median(times)
    return out


def layer_metrics(wl, tracer, traced_iters, plain_iters, events, outs) -> dict:
    """Per-layer metrics: median over traced iterations of span self times
    (prefix chains per workload.CHAIN) and event-log stage totals."""
    from tracing import duration, stage_totals
    per_iter = []
    for it in traced_iters:
        D = {s["name"]: duration(s) for s in tracer.spans if s["iteration"] == it}
        S = {name: stage_totals(events.get(f"pb:{it}:{name}")) for name in D}
        zero = stage_totals(None)
        m = {"driver.plan_s": D.get("driver.plan", 0.0)}
        for name, prev in wl.CHAIN:
            d = D.get(name, 0.0) - (D.get(prev, 0.0) if prev else 0.0)
            s, sp = S.get(name, zero), (S.get(prev, zero) if prev else zero)
            key = name.split(".")[0]
            if name.startswith("checkpoint."):
                m[name + "_s"] = D.get(name, 0.0)
                if name == "checkpoint.write":
                    m["arrow.to_python_mb.checkpoint"] = (s["to_python"] - sp["to_python"]) / 1e6
                    m["arrow.from_python_mb.checkpoint"] = (s["from_python"] - sp["from_python"]) / 1e6
                continue
            if name == "dedup":
                m["dedup.lsh_s"] = d
                continue
            if name == "components":
                m["components.cc_s"] = d
                continue
            m[f"{key}.self_s"] = d
            m[f"arrow.to_python_mb.{key}"] = (s["to_python"] - sp["to_python"]) / 1e6
            m[f"arrow.from_python_mb.{key}"] = (s["from_python"] - sp["from_python"]) / 1e6
            if key in ("reduce", "extract_geom", "raster_cube"):
                m[f"{key}.shuffle_write_mb"] = (s["shuffle_write_bytes"] - sp["shuffle_write_bytes"]) / 1e6
            if key == "raster_cube":
                m["raster_cube.task_skew"] = s["main_skew"]
                m["raster_cube.spill_mb"] = s["spill_bytes"] / 1e6
                m["raster_cube.placements"] = s["main_read_records"]
            if key == "extract_geom":
                m["extract_geom.rows_out"] = s["shuffle_write_records"]
        o = outs.get(it)
        if o is not None and "resumed" in o.extra:
            m["checkpoint.resumed_chunks"] = o.extra["resumed"]
            m["checkpoint.bytes_written_mb"] = o.extra["bytes"] / 1e6
        per_iter.append(m)
    res = {k: median([m[k] for m in per_iter if k in m]) for k in {k for m in per_iter for k in m}}
    plain = [stage_totals(events.get(f"pb:{it}:plain")) for it in plain_iters]
    res["spark.stages"] = median([p["stages"] for p in plain])
    res["spark.tasks"] = median([p["tasks"] for p in plain])
    return res


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the context, then the JVM and every process below it, and wait."""
    from pyspark import SparkContext
    from tracing import descendants
    kids = descendants(jvm_pid)
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run(workload: str, seed: int, trace: bool, tiny: bool = False) -> dict:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gdalcubes_spark", "__init__.py")):
        die("run from the root of a source checkout: ./gdalcubes_spark is missing")
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS, CheckFailed, corrupt
    if workload not in WORKLOADS:
        die(f"unknown workload {workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[workload](tiny=tiny)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    ctx = configure(root, work, trace, wl.JAVA_OPTS)
    ctx.update(workload=workload, seed=seed, trace=int(trace), tiny=tiny, load1_start=os.getloadavg()[0])

    from pyspark import SparkContext
    from gdalcubes_spark.session import get_spark
    from tracing import Probe, Tracer, WorkerMemory, cpu_s, nesting_errors, parse_event_log, self_time, duration

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(workload, {}).get("tiny" if tiny else "full", {})

    phases = {"imports": time.perf_counter() - T_PROCESS}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")  # launches the JVM
    t1 = time.perf_counter()
    st = wl.setup(spark, work, seed)
    setup = {"session_s": t1 - t0, "inventory_s": time.perf_counter() - t1,
             "total_s": time.perf_counter() - T_PROCESS}  # from interpreter start
    jvm_pid = SparkContext._gateway.proc.pid

    tracer = Tracer() if trace else None
    walls, outs, notes = [], {}, []
    attempted = failed = 0
    phases["setup"] = time.perf_counter() - T_PROCESS - sum(phases.values())
    # Untraced: the workload's fixed numbers of untimed warm-up iterations
    # (the first runs in a session pay JIT, code generation and worker
    # imports) and of timed ones. Traced: a plain, a traced and a warm plain
    # iteration.
    n_warm, n_timed = (0, 3) if trace else (wl.WARMUP, wl.TIMED)
    sc = spark.sparkContext
    mem = WorkerMemory(jvm_pid)
    steals, cpus = [], []

    def iteration(it: int) -> None:
        nonlocal attempted, failed
        traced = trace and it % 2 == 1
        if trace and not traced:
            sc.setJobDescription(f"pb:{it}:plain")
        attempted += 1
        s0, c0, t0 = cpu_steal_s(), cpu_s(jvm_pid), time.perf_counter()
        try:
            if traced:
                with tracer.span("iteration", it):
                    out = wl.iterate(spark, st, Probe(spark, tracer, it, True))
                    with tracer.span("check", it):
                        out.digest
            else:
                out = wl.iterate(spark, st, Probe(spark, None, it, False))
                out.digest  # counted and digested inside the clock
            outs[it] = out
        except Exception:
            traceback.print_exc()
            failed += 1
        walls.append(time.perf_counter() - t0)
        steals.append(cpu_steal_s() - s0)
        cpus.append(cpu_s(jvm_pid) - c0)
        if trace:
            sc.setJobDescription(None)
        wl.hygiene(spark, st)

    for it in range(n_warm):
        iteration(it)
    with mem:  # worker peaks of the timed iterations only
        for it in range(n_warm, n_warm + n_timed):
            iteration(it)
    ctx["load1_end"] = os.getloadavg()[0]
    phases["measure"] = time.perf_counter() - T_PROCESS - sum(phases.values())

    def check(out, ref) -> None:
        if out.counts() != ref.counts():
            raise CheckFailed(f"counts {out.counts()} != reference {ref.counts()}")
        if out.digest != ref.digest:
            raise CheckFailed(f"digest {out.digest} != reference {ref.digest}")
        wl.check_extra(out)

    # untimed: the reference, checked against an oracle and expected.json,
    # then every timed output against the reference
    ref = None
    try:
        if not outs:
            raise CheckFailed("no iteration completed")
        r = wl.reference(spark, st, outs[min(outs)])
        want = {k: expected[k] for k in ("chunks", "cells", "table_rows") if k in expected}
        if {k: r.counts()[k] for k in want} != want:
            raise CheckFailed(f"reference counts {r.counts()} != expected.json {want}")
        key = wl.digest_key(seed)
        pinned = expected.get("digests", {}).get(key)
        if pinned is not None and r.digest != pinned:
            raise CheckFailed(f"reference digest {r.digest} != expected.json {pinned} (seed {seed}, key {key})")
        ref = r
    except Exception:
        traceback.print_exc()
        notes.append("reference check failed")
    for i in sorted(outs):
        try:
            if ref is None:
                raise CheckFailed("no reference")
            check(outs[i], ref)
        except CheckFailed as e:
            notes.append(f"iteration {i}: {e}")
            del outs[i]
            failed += 1
    # negative control: a corrupted output must fail the oracle or the digest
    rejected = None
    if trace and ref is not None:
        rejected = False
        try:
            bad = corrupt(ref)
            check(bad, wl.reference(spark, st, bad))
        except CheckFailed:
            rejected = True
        except Exception:
            traceback.print_exc()
    phases["reference"] = time.perf_counter() - T_PROCESS - sum(phases.values())
    stop_spark(spark, jvm_pid)
    phases["stop"] = time.perf_counter() - T_PROCESS - sum(phases.values())

    ctx.update(iteration_walls=walls, warmup_iterations=n_warm, setup=setup, failed_frac=failed / max(attempted, 1),
               steal_s=steals, cpu_s=cpus, phases_s=phases, rss_reset_workers=mem.reset, notes=notes)
    correct = ref is not None and failed == 0
    if not trace:
        wall = min(walls[n_warm:])
        ctx["timed_median_s"] = median(walls[n_warm:])
        metrics = {
            "setup_s": (setup["total_s"], "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (ref.rows / wall if ref is not None and wall > 0 else 0.0, "rows/s"),
            "worker_peak_rss_mb": (mem.peak_kb / 1024, "MB"),
        }
    else:
        traced_iters = [i for i in outs if i % 2 == 1]
        plain_iters = [i for i in outs if i % 2 == 0]
        events = parse_event_log(os.path.join(work, "eventlog"))
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(layer_metrics(wl, tracer, traced_iters, plain_iters, events, outs))
        m.update({f"codecs.decode_ms.{f}": v for f, v in decode_ms(wl, seed).items()})
        m["setup.session_s"], m["setup.inventory_s"] = setup["session_s"], setup["inventory_s"]
        m["trace.iterations"] = len(traced_iters)
        # iteration 0 is the cold first run: compare warm plain with traced
        pw = median([walls[i] for i in plain_iters if i > 0])
        m["trace.overhead_frac"] = median([walls[i] for i in traced_iters]) / pw - 1 if pw > 0 else 0.0
        metrics = {k: (m[k], u) for k, u in PER_LAYER.items()}
        # tile assignment is seed-independent: placements must repeat exactly
        if "placements" in expected and traced_iters and m["raster_cube.placements"] != expected["placements"]:
            correct = False
            notes.append(f"placements {m['raster_cube.placements']} != expected.json {expected['placements']}")
        # self-checks recorded with the spans (see smoke.py)
        roots = [s for s in tracer.spans if s["name"] == "iteration"]
        ctx["trace_checks"] = {
            "nesting_errors": nesting_errors(tracer.spans),
            "self_sum_over_wall": [sum(self_time(tracer.spans, s) for s in tracer.spans
                                       if s["iteration"] == r["iteration"]) / duration(r) for r in roots],
            "layers_with_stages": sorted({d.split(":", 2)[2] for d in events}),
            "negative_control_rejected": rejected,
        }
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{workload}-s{seed}{'-tiny' if tiny else ''}.json"),
                    {"context": ctx, "metrics": {k: v for k, (v, _) in metrics.items()}})
    if ref is not None:
        ctx["reference"] = {"digest": ref.digest, **ref.counts()}
    shutil.rmtree(work, ignore_errors=True)
    return {"context": ctx, "result": {
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="accepted for the common interface; the iteration count is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-check sizes")
    a = ap.parse_args(argv)
    if a.seed < 0:
        die("--seed must be >= 0")
    res = run(a.workload, a.seed, bool(a.trace), a.tiny)
    print(json.dumps({"context": res["context"]}))
    print(json.dumps(res["result"]))


if __name__ == "__main__":
    main()
