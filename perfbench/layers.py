"""What the benchmark observes around the engine, from outside it: spans,
process-tree memory, the artifact/tier store on disk, the sink output
tree, codegen counters, Catalyst phase times and the Spark event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

MB = 1024 * 1024


class Tracer:
    """Spans kept in memory and written once at the end. A disabled
    tracer records nothing, so the untraced runs pay only a no-op
    context manager per boundary. Spans are opened from one thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = self._append(
            name,
            op if op is not None else (parent["op"] if parent else None),
            parent["id"] if parent else None,
            time.perf_counter(),
        )
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def add(self, name: str, start: float, end: float, parent: dict) -> None:
        """A span observed after the fact (a Spark job from the event log)."""
        self._append(name, parent["op"], parent["id"], start)["end"] = end

    def _append(self, name, op, parent, start) -> dict:
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": parent, "start": start, "end": None}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def merge_intervals(intervals) -> list[tuple[float, float]]:
    """Overlapping (start, end) intervals joined into disjoint ones."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _union_length(intervals) -> float:
    return sum(e - s for s, e in merge_intervals(intervals))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by that span's children."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
        ]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["name"]] += (s["end"] - s["start"]) - _union_length(kids)
    return dict(out)


def subtree_self_sum(spans: list[dict], root_name: str) -> tuple[float, float]:
    """(sum of self times of every span under a ``root_name`` span,
    summed wall time of those root spans). Equal when the layers account
    for each op's wall time."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
    roots = [s for s in spans if s["name"] == root_name]
    members: list[dict] = []
    stack = list(roots)
    while stack:
        s = stack.pop()
        members.append(s)
        stack.extend(by_parent[s["id"]])
    selfs = self_times(members)
    return sum(selfs.values()), sum(r["end"] - r["start"] for r in roots)


# -- memory ---------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    def stop(self) -> None:
        """Take a last sample and stop; later calls change nothing."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# -- files on disk ----------------------------------------------------------


def tree_bytes(root: str) -> tuple[int, int]:
    """(file count, bytes) under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                size += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return files, size


def store_entries(store_root: str) -> dict[str, dict[str, int]]:
    """Completed entries of the artifact and tier stores with their byte
    sizes; in-flight ``.tmp.`` builds are left out."""
    out: dict[str, dict[str, int]] = {}
    for sub in ("artifacts", "tiers"):
        d = os.path.join(store_root, sub)
        entries = {}
        if os.path.isdir(d):
            for n in os.listdir(d):
                if ".tmp." in n:
                    continue
                p = os.path.join(d, n)
                entries[n] = (
                    tree_bytes(p)[1] if os.path.isdir(p) else os.lstat(p).st_size
                )
        out[sub] = entries
    return out


def store_delta(before: dict, after: dict) -> dict[str, float]:
    out = {}
    for sub in ("artifacts", "tiers"):
        new = set(after[sub]) - set(before[sub])
        out[f"{sub}.builds"] = len(new)
        out[f"{sub}.mb"] = sum(after[sub][n] for n in new) / MB
    return out


# -- Spark-side counters ------------------------------------------------------


class SparkCounters:
    """Codegen compile counters and Catalyst phase times, read through
    the driver JVM (in local mode the tasks compile in it too)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._count = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def codegen(self) -> tuple[int, float]:
        """(Janino compiles so far, seconds spent in them so far)."""
        return self._count.getCount(), self._gen.compileTime() / 1e9

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


# -- event log ----------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: Spark jobs (with wall-clock start/end in epoch
    seconds), stages and tasks run, task time, shuffle bytes, spill and
    Python worker time, from the newest event log in ``log_dir``."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not paths:
        return {}
    newest = paths[-1]
    # a rolling log is a directory of events_<n>_<app> files
    files = (
        sorted(
            glob.glob(os.path.join(newest, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if os.path.isdir(newest)
        else [newest]
    )
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    starts: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": [],
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_read_b": 0,
            "shuffle_write_b": 0,
            "spill_b": 0,
            "python_s": 0.0,
        }
    )
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            starts[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]]["jobs"].append(
                    (starts[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                groups[stage_group[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = groups[group]
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    g["python_s"] += float(acc.get("Update", 0)) / 1000.0
    return dict(groups)


def _events(files: list[str]):
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


# SQL timing metric (milliseconds) of the Python execs: mapInPandas,
# applyInPandas, Arrow and batched UDFs.
PYTHON_TIME_METRIC = "time to run Python workers"
