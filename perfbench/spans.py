"""Measurement plumbing: spans, process-tree memory, host calibration and
the Spark monitoring REST API.

Spans are recorded from the benchmark's own files around calls into the
program's public functions; nothing inside the program is instrumented.
A span has a name, start, end, parent and trace id, is kept in memory
and is written as JSON when the run ends. A span's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` still times the block
    (callers need the duration either way) but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "trace": self.trace_id, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> list[dict]:
        """Each span with ``self`` = duration minus its children's
        durations (one client thread, so children never overlap)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered = sum(e - b for b, e in kids.get(i, []))
            out.append({**s, "id": i, "self": s["dur"] - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.self_times(), f, indent=1, default=str)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# -- memory ----------------------------------------------------------------


def child_pids(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssWatch:
    """Peak resident memory of every process this one started (the JVM and
    the Python workers it forks): the sum of their ``VmHWM`` values,
    sampled at phase boundaries and kept as a running maximum. Workers
    are long-lived within a session, so their high-water marks survive
    until the next sample."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        seen, todo, total = set(), child_pids(os.getpid()), 0
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += _hwm_kb(pid)
            todo += child_pids(pid)
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- host calibration ------------------------------------------------------


def _calib_unit(seed: int) -> str:
    import numpy as np

    rng = np.random.default_rng(seed)
    a = np.sort(rng.random(4_000_000))
    h = hashlib.sha256(a.tobytes())
    for _ in range(800):
        h = hashlib.sha256(h.digest() * 4096)
    return h.hexdigest()


# one calibration process: warm up (imports, first unit), say "ready",
# run the timed unit when a line arrives on stdin, print its digest
_CALIB_CHILD = (
    "import sys; sys.path.insert(0, sys.argv[1]); from spans import _calib_unit; "
    "_calib_unit(int(sys.argv[2])); print('ready', flush=True); sys.stdin.readline(); "
    "print(_calib_unit(int(sys.argv[2]) + 1), flush=True)"
)


def host_calibration(procs: int) -> float:
    """Wall time of a fixed CPU kernel (numpy sort + SHA-256) on ``procs``
    processes. It does not depend on the program, so a slow host phase
    shows here and a regression does not. Each process is a plain child
    that is waited for, so none outlives the call."""
    here = os.path.dirname(os.path.abspath(__file__))
    kids = [subprocess.Popen([sys.executable, "-c", _CALIB_CHILD, here, str(2 * i)],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for i in range(procs)]
    try:
        for k in kids:  # start-up outside the timing
            if k.stdout.readline().strip() != "ready":
                raise RuntimeError("calibration process failed to start")
        t0 = time.perf_counter()
        for k in kids:
            k.stdin.write("go\n")
            k.stdin.flush()
        for k in kids:
            if len(k.stdout.readline().strip()) != 64:
                raise RuntimeError("calibration process failed")
        return time.perf_counter() - t0
    finally:
        for k in kids:
            k.stdin.close()  # a child still waiting for "go" reads EOF and ends
            try:
                k.wait(timeout=60)
            except subprocess.TimeoutExpired:
                k.kill()
                k.wait()
            k.stdout.close()


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds by state since boot (/proc/stat): deltas over
    a phase show how much of it other tenants took (steal) or the disk
    held up (iowait)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"user": (v[0] + v[1]) / hz, "system": v[2] / hz, "idle": v[3] / hz,
            "iowait": v[4] / hz, "steal": v[7] / hz}


# -- Spark monitoring REST API (traced runs only) ----------------------------


class SparkRest:
    """Reads stage and SQL metrics of the running application from its UI
    (on only in traced runs). Jobs are attributed by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stages(self, group: str) -> list[dict]:
        ids = set()
        for j in self._get("/jobs"):
            if j.get("jobGroup") == group:
                ids.update(j.get("stageIds", []))
        return [s for s in self._get("/stages?status=complete") if s["stageId"] in ids]

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med else 0.0

    def max_sql_id(self) -> int:
        ex = self._get("/sql?details=false&length=100000")
        return max((e["id"] for e in ex), default=-1)

    def files_read_since(self, sql_id: int) -> int:
        """Sum of the scans' "number of files read" over SQL executions
        newer than ``sql_id``."""
        total = 0
        for e in self._get("/sql?details=true&planDescription=false&length=100000"):
            if e["id"] <= sql_id:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        total += int(str(m.get("value", "0")).replace(",", "") or 0)
        return total
