"""Measurement plumbing for the benchmark, kept outside the engine package.

- `Tracer`: in-memory spans (name, start, end, parent, iteration) recorded
  around the benchmark's calls into the engine, written out when a run ends.
- `Probe`: what a workload iteration talks to. Untraced it does nothing, so
  end-to-end timings carry no tracing cost. Traced it opens spans, sets the
  Spark job description that keys the event log, and materializes pipeline
  prefixes into the noop sink.
- `parse_event_log`: per-description stage/task totals from Spark's own
  event log (enabled only in traced runs, through the benchmark's
  SPARK_CONF_DIR).
- `WorkerMemory`: peak resident memory of the Spark Python workers, read
  from /proc (psutil is not available).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from typing import Dict, List, Optional

# Spark's Python SQL metric names (PythonSQLMetrics) as they appear in the
# task accumulables of the event log: the JVM<->Python Arrow boundary.
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, iteration: int):
        rec = {"id": len(self.spans), "name": name, "iteration": iteration,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(dict(extra, spans=self.spans), f, indent=1)


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def children(spans: List[dict], sid: int) -> List[dict]:
    return [s for s in spans if s["parent"] == sid]


def self_time(spans: List[dict], s: dict) -> float:
    """Span duration minus the part of it that its child spans cover."""
    iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children(spans, s["id"]))
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return duration(s) - covered


def nesting_errors(spans: List[dict], eps: float = 1e-6) -> List[str]:
    """Children must lie inside their parent and siblings must not overlap."""
    errs = []
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            errs.append(f"span {s['name']} not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is not None and (s["start"] < p["start"] - eps or s["end"] > p["end"] + eps):
            errs.append(f"span {s['name']} escapes parent {p['name']}")
    for p in spans:
        kids = sorted(children(spans, p["id"]), key=lambda c: c["start"])
        for a, b in zip(kids, kids[1:]):
            if b["start"] < a["end"] - eps:
                errs.append(f"siblings {a['name']} and {b['name']} overlap")
    return errs


class Probe:
    """The iteration's handle on tracing. With `traced=False` every hook is a
    no-op, so plain iterations run exactly the untraced code."""

    def __init__(self, spark, tracer: Optional[Tracer], iteration: int, traced: bool):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.iteration = iteration
        self.traced = traced and tracer is not None

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.traced:
            yield
            return
        self.sc.setJobDescription(f"pb:{self.iteration}:{name}")
        try:
            with self.tracer.span(name, self.iteration):
                yield
        finally:
            self.sc.setJobDescription(None)

    def prefix(self, name: str, df) -> None:
        """Traced runs only: materialize a pipeline prefix into the noop sink,
        so the layer's self time is this span minus the previous prefix."""
        if self.traced:
            with self.layer(name):
                df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ event log

def _acc(info: dict, name: str) -> float:
    tot = 0.0
    for a in info.get("Accumulables", []):
        if a.get("Name") == name and a.get("Update") is not None:
            try:
                tot += float(a["Update"])
            except (TypeError, ValueError):
                pass
    return tot


def parse_event_log(log_dir: str) -> Dict[str, dict]:
    """description -> {stages: {stage_id: [task dicts]}, jobs: n}. A stage is
    keyed by the description of the first job that lists it."""
    stage_desc: Dict[int, str] = {}
    jobs: Dict[str, int] = defaultdict(int)
    tasks: Dict[int, list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc:
                        jobs[desc] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append(dict(
                        run_ms=float(tm.get("Executor Run Time", 0)),
                        shuffle_read_records=float(sr.get("Total Records Read", 0)),
                        shuffle_write_bytes=float(sw.get("Shuffle Bytes Written", 0)),
                        shuffle_write_records=float(sw.get("Shuffle Records Written", 0)),
                        spill_bytes=float(tm.get("Memory Bytes Spilled", 0)) + float(tm.get("Disk Bytes Spilled", 0)),
                        to_python=_acc(info, TO_PYTHON),
                        from_python=_acc(info, FROM_PYTHON)))
    out: Dict[str, dict] = {}
    for sid, desc in stage_desc.items():
        if tasks.get(sid):
            out.setdefault(desc, {"stages": {}, "jobs": jobs[desc]})["stages"][sid] = tasks[sid]
    return out


def stage_totals(entry: Optional[dict]) -> dict:
    """Sums over every task of one description, plus the scan-stage view:
    the stage that reads the most shuffle records (the exchange feeding the
    layer's main UDF) and its max/median task run-time ratio."""
    z = dict(stages=0, tasks=0, shuffle_write_bytes=0.0, shuffle_write_records=0.0, spill_bytes=0.0,
             to_python=0.0, from_python=0.0, main_read_records=0.0, main_skew=0.0)
    if not entry:
        return z
    best = None
    for sid, ts in entry["stages"].items():
        z["stages"] += 1
        z["tasks"] += len(ts)
        for k in ("shuffle_write_bytes", "shuffle_write_records", "spill_bytes", "to_python", "from_python"):
            z[k] += sum(t[k] for t in ts)
        rr = sum(t["shuffle_read_records"] for t in ts)
        if best is None or rr > best[0]:
            best = (rr, ts)
    if best is not None:
        runs = sorted(t["run_ms"] for t in best[1])
        med = runs[len(runs) // 2] if len(runs) % 2 else 0.5 * (runs[len(runs) // 2 - 1] + runs[len(runs) // 2])
        z["main_read_records"] = best[0]
        z["main_skew"] = runs[-1] / med if med > 0 else 0.0
    return z


# ------------------------------------------------------ worker memory

def _ppid_map() -> Dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # comm may contain spaces: fields resume after the last ')'
        out[int(d)] = int(s[s.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> List[int]:
    kids = defaultdict(list)
    for pid, ppid in _ppid_map().items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(jvm_pid: int) -> float:
    """CPU time (user + system) used so far by this process, the JVM and every
    process below it. Children that have exited and been reaped count through
    their parent's cutime/cstime. On a guest with steal accounting, time the
    hypervisor gave to other guests is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.times()
    total = me.user + me.system
    for pid in [jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class WorkerMemory:
    """Peak RSS (VmHWM) of every Python process below the Spark JVM while the
    timed iterations run. Entering resets each existing worker's VmHWM
    (`clear_refs` 5), so set-up's peak does not count; workers forked later
    start their own. A thread then polls the peaks; workers are reused, so a
    slow poll (it scans /proc) loses little and takes little CPU."""

    def __init__(self, jvm_pid: int, interval: float = 0.5) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.reset = 0  # workers whose VmHWM was reset
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def workers(self) -> List[int]:
        return [pid for pid in descendants(self.jvm_pid) if _is_python(pid)]

    def sample(self) -> None:
        for pid in self.workers():
            self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "WorkerMemory":
        for pid in self.workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
                self.reset += 1
            except OSError:
                pass
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
