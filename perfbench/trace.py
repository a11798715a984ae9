"""Spans, per-layer Spark counters and process-tree sampling.

A :class:`Tracer` records spans in memory (name, start, end, parent) around
calls into the engine's public functions, and attributes Spark work to
each span by the window of stage and job ids the DAG scheduler handed out
while it was open. Attribution goes by id window, not by job group:
``update_graph`` runs its chains on ``ThreadPoolExecutor`` threads, which
do not inherit the caller's job group (PySpark pins local properties to
the Python thread that set them), so a group filter would miss them.

The JVM counters miss the Python kernels, which run in forked Python
workers; ``py_cpu_s`` therefore reads the CPU time of every Python process
under the JVM from ``/proc``.

Timed runs pass no tracer, so no span code runs in them.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

LAYER_COUNTERS = ("wall_s", "exec_run_s", "exec_cpu_s", "py_cpu_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "jobs",
                  "tasks")
_MB = 1 << 20
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while scanning
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out[int(d)] = (int(f[1]), comm, cpu, int(f[21]) * _PAGE)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int, rss: int) -> int:
    """Proportional set size: RSS with each shared page split among the
    processes mapping it, so forked Python workers do not count their
    parent's pages again. Falls back to RSS where the kernel has no
    ``smaps_rollup``."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_pss() -> list[tuple[int, int, str]]:
    """(PSS bytes, pid, command) of this process, the JVM and the Python
    workers under it. Other children are skipped: the JVM spawns helper
    commands, and a child caught between its vfork and its exec reports
    the whole JVM address space a second time."""
    table = _proc_table()
    me = os.getpid()
    return [(_pss_bytes(p, table[p][3]), p, table[p][1])
            for p in _descendants(table, me) if p in table and (
                p == me or table[p][1] == "java"
                or table[p][1].startswith("python"))]


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes under this driver (the PySpark
    daemon and its forked workers), excluding the driver itself."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][2] for p in _descendants(table, me)
               if p != me and p in table and table[p][1].startswith("python"))


class MemorySampler:
    """Peak PSS of the driver process tree, sampled in a daemon thread;
    ``at_peak`` keeps the per-process breakdown of the peak sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: list[tuple[int, int, str]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = tree_pss()
        total = sum(p[0] for p in procs)
        if total > self.peak:
            self.peak, self.at_peak = total, sorted(procs, reverse=True)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class Tracer:
    """Spans with Spark stage-window counters, kept in memory."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _ids(self) -> tuple[int, int]:
        return self._dag.nextStageId(), self._dag.nextJobId()

    @contextlib.contextmanager
    def span(self, name: str):
        s0, j0 = self._ids()
        rec = {"name": name,
               "parent": self._stack[-1]["name"] if self._stack else None}
        py0 = python_worker_cpu_s()
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            s1, j1 = self._ids()
            rec["py_cpu_s"] = python_worker_cpu_s() - py0
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["jobs"] = j1 - j0
            rec.update(self._stage_counters(s0, s1))
            self.spans.append(rec)

    def _stage_counters(self, s0: int, s1: int) -> dict:
        store = self._jsc.statusStore()
        acc = dict.fromkeys(("exec_run_s", "exec_cpu_s", "shuffle_write_mb",
                             "shuffle_read_mb", "spill_mb", "input_mb",
                             "tasks"), 0.0)
        for sid in range(s0, s1):
            st = None
            for _ in range(50):  # the listener bus applies events async
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j NoSuchElementException: not yet
                    st = None
                if st is not None and str(st.status()) not in (
                        "ACTIVE", "PENDING"):
                    break
                time.sleep(0.02)
            if st is None:
                continue
            acc["exec_run_s"] += st.executorRunTime() / 1e3
            acc["exec_cpu_s"] += st.executorCpuTime() / 1e9
            acc["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            acc["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            acc["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / _MB
            acc["input_mb"] += st.inputBytes() / _MB
            acc["tasks"] += st.numCompleteTasks()
        return acc

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def layer(self, name: str) -> dict[str, float]:
        """Summed counters of every span called ``name``."""
        spans = self.by_name(name)
        return {c: float(sum(s[c] for s in spans)) for c in LAYER_COUNTERS}

    def dump(self, path: str) -> None:
        import json
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
