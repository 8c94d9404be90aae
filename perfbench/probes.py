"""Outside-in counters: ``/proc`` process-tree CPU and RSS, Spark's
status tracker and status store, and the span tracer.

Nothing here reaches into the package: processes are classified by what
``/proc`` says (the driver is this process, the JVM is its ``java``
child, Python workers are the JVM's Python descendants) and Spark work
is read per job group from the driver's status store, which is kept
even with the UI disabled.

Run as a script (``python3 probes.py <pid>``) it is the RSS sampler: it
polls the process tree of ``<pid>`` every 50 ms until its stdin closes,
then prints the peaks as one JSON line.  Sampling from a separate
process keeps the sampler off the driver's interpreter lock.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """-> (ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def process_tree(root: int, exclude: int | None = None) -> dict[str, list[int]]:
    """Classify ``root``'s live descendants: driver / jvm / workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    tree = {"driver": [root], "jvm": [], "workers": []}
    stack = [(c, False) for c in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        if pid == exclude:
            continue
        if under_jvm:
            tree["workers"].append(pid)
        elif _is_java(pid):
            tree["jvm"].append(pid)
            under_jvm = True
        else:
            tree["driver"].append(pid)  # launcher shells, this tree's helpers
        stack += [(c, under_jvm) for c in children.get(pid, [])]
    return tree


def tree_usage(tree: dict[str, list[int]]) -> dict[str, tuple[float, int]]:
    """class -> (cpu seconds, rss bytes) summed over its live processes."""
    out = {}
    for cls, pids in tree.items():
        cpu = rss = 0
        for p in pids:
            st = _stat(p)
            if st is not None:
                cpu += st[1]
                rss += st[2]
        out[cls] = (cpu, rss)
    return out


class CpuMeter:
    """CPU seconds of the JVM and of the Python workers, read from
    ``/proc``.  The tree is re-discovered at most every 0.5 s (workers
    are forked on demand)."""

    def __init__(self):
        self._tree = None
        self._at = 0.0

    def read(self) -> dict[str, float]:
        now = time.monotonic()
        if self._tree is None or now - self._at > 0.5:
            self._tree = process_tree(os.getpid())
            self._at = now
        u = tree_usage(self._tree)
        return {"jvm": u["jvm"][0], "workers": u["workers"][0]}


class RssSampler:
    """Peak RSS of this process tree, sampled by a child process."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> dict[str, float]:
        out, _ = self.proc.communicate(timeout=30)
        return json.loads(out.strip().splitlines()[-1])


def _sample_forever(root: int) -> None:
    import select

    peaks = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
    tree, at = None, 0.0
    while True:
        now = time.monotonic()
        if tree is None or now - at > 0.5:
            tree, at = process_tree(root, exclude=os.getpid()), now
        u = tree_usage(tree)
        total = sum(v[1] for v in u.values())
        peaks["total"] = max(peaks["total"], total)
        for cls, (_, rss) in u.items():
            peaks[cls] = max(peaks[cls], rss)
        if select.select([sys.stdin], [], [], 0.05)[0]:
            if not sys.stdin.read(1):
                break
    print(json.dumps({k: v / 2**20 for k, v in peaks.items()}), flush=True)


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


class SparkCounters:
    """Jobs, stages, tasks, shuffle/input bytes and task time of the jobs
    run under a job group, from the status tracker and status store."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._list = gw.jvm.java.util.ArrayList
        self._quantiles = gw.new_array(gw.jvm.double, 0)

    def for_group(self, group: str) -> dict[str, float]:
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_read_b", "shuffle_write_b",
             "shuffle_write_records", "last_shuffle_write_records", "input_b",
             "run_ms", "cpu_ms"), 0,
        )
        stages: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            c["jobs"] += 1
            if info is not None:
                stages.update(info.stageIds)
        for sid in sorted(stages):
            data = self._store.stageData(sid, False, self._list(), False, self._quantiles)
            if data.isEmpty():  # skipped: its shuffle output was reused
                continue
            s = data.head()
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["shuffle_read_b"] += s.shuffleReadBytes()
            c["shuffle_write_b"] += s.shuffleWriteBytes()
            c["shuffle_write_records"] += s.shuffleWriteRecords()
            if s.shuffleWriteRecords():
                c["last_shuffle_write_records"] = s.shuffleWriteRecords()
            c["input_b"] += s.inputBytes()
            c["run_ms"] += s.executorRunTime()
            c["cpu_ms"] += s.executorCpuTime() / 1e6
        return c


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the package's layers.

    A span records name, start, end, parent and trace id (spans of one
    query share it).  Each span runs its Spark jobs under its own job
    group; at span end the group's counters and the span's JVM/worker
    CPU deltas are attached.  Disabled, ``span`` costs one generator
    frame and records nothing.
    """

    def __init__(self, sc, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.sc = sc
        self.overhead_s = 0.0  # time spent in span bookkeeping
        if enabled:
            self.counters = SparkCounters(sc)
            self.cpu = CpuMeter()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = {
            "id": self._next, "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "group": f"span-{self._next}",
        }
        t0 = time.perf_counter()
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        cpu0 = self.cpu.read()
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            cpu1 = self.cpu.read()
            sp["jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
            sp["py_cpu_s"] = cpu1["workers"] - cpu0["workers"]
            sp.update(self.counters.for_group(sp["group"]))
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp["end"]

    def add_child(self, parent: dict, name: str, start: float, end: float) -> None:
        """A span measured by the program itself (build stage marks)."""
        self._next += 1
        self.spans.append({
            "id": self._next, "name": name, "parent": parent["id"],
            "trace": parent["trace"], "start": start, "end": end,
        })

    def with_self_time(self) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for k in sorted(kids.get(s["id"], []), key=lambda k: k["start"]):
                lo, hi = max(k["start"], last), min(k["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out.append({**s, "dur_s": s["end"] - s["start"],
                        "self_s": s["end"] - s["start"] - covered})
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


if __name__ == "__main__":
    _sample_forever(int(sys.argv[1]))
