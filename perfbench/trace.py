"""Outside-in instrumentation: spans around calls into the package, Spark
job/stage/task counts per op, and peak resident memory from ``/proc``.

Nothing here reaches into the package; spans wrap the benchmark's own calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory spans ``(name, start_ns, end_ns, parent_index, op_id)``.

    A disabled tracer records nothing, so untraced ops pay one attribute
    check per span."""

    def __init__(self, enabled: bool) -> None:
        self.spans: list[tuple | None] = []
        self.enabled = enabled
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(idx)
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            self._stack.pop()
            self.spans[idx] = (name, start, end, parent, self.op_id)

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by direct children (children never overlap: one thread)."""
        child = defaultdict(int)
        for s in self.spans:
            if s is not None and s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s is not None:
                out[s[0]] += (s[2] - s[1] - child[i]) / 1e6
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    name, start, end, parent, op = s
                    f.write(json.dumps({"name": name, "start_ns": start, "end_ns": end,
                                        "parent": parent, "op": op}) + "\n")


def spark_counts(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under the given job groups, read through
    ``SparkContext.statusTracker()``.  Stages that ran no task (skipped)
    are not counted."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks:
                    stages += 1
                    tasks += si.numTasks
    return jobs, stages, tasks


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(jvm_pid: int) -> None:
    """Restart the peak-RSS count of this process and the driver JVM at
    their current resident set (``clear_refs`` 5), so that the peak covers
    what follows and not the benchmark's own set-up and checks.  Where the
    kernel refuses, the peak stays the lifetime peak."""
    for pid in (os.getpid(), jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident set of (this Python process, the driver JVM), in MB."""
    return _hwm_kb(os.getpid()) / 1024.0, _hwm_kb(jvm_pid) / 1024.0


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of the parquet files under ``root``."""
    out = {}
    for d, _sub, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or rewritten between two listings."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)
