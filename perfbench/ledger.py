"""Measurement plumbing: process-tree CPU and peak memory from /proc, span
wrappers around the package's public functions, the Spark event log fold
(by job group), and Catalyst phase times.

Nothing here changes what the program computes. Spans are installed by
replacing module attributes with timing wrappers, so they see every call
made through the module (`eio.read_table(...)`), which is how the package
calls its own layers.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import subprocess
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# --------------------------------------------------------------------------
# process tree (/proc)
# --------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float, str] | None:
    """(ppid, cpu seconds incl. reaped children, state) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _CLK, fields[0]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcessTree:
    """CPU seconds and resident memory of this process and all of its
    descendants, split into driver (this Python process), JVM, Python
    workers (pyspark daemon + forked workers) and other.

    CPU of a descendant that exits moves into its parent's reaped-children
    counters, so the per-class sums stay continuous across worker churn
    (a worker's time lands in the daemon's class, i.e. still `pyworker`).
    """

    def __init__(self) -> None:
        self.root = os.getpid()
        self._kind: dict[int, str] = {}

    def _classify(self, pid: int) -> str:
        kind = self._kind.get(pid)
        if kind is None:
            cmd = _cmdline(pid)
            if pid == self.root:
                kind = "driver"
            elif "java" in cmd.split(" ")[0] or "org.apache.spark" in cmd:
                kind = "jvm"
            elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd or "pyspark/daemon" in cmd:
                kind = "pyworker"
            else:
                kind = "other"
            self._kind[pid] = kind
        return kind

    def _stats(self) -> dict[int, tuple[int, float, str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        return stats

    def descendants(self) -> list[int]:
        """Live descendant pids (zombies excluded)."""
        parent = {pid: st[0] for pid, st in self._stats().items() if st[2] != "Z"}
        out, frontier = [], [self.root]
        while frontier:
            pid = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == pid]
            out.extend(kids)
            frontier.extend(kids)
        return out

    def reset_peak(self) -> None:
        """Reset each live tree process's peak resident set (VmHWM) to its
        current resident set, so `peak_rss` covers what runs after this."""
        for pid in [self.root, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:  # the process has exited
                pass

    def peak_rss(self) -> int:
        """Sum over the live tree of each process's peak resident set
        (VmHWM): the tree's peak memory, counted per process."""
        total = 0
        for pid in [self.root, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def snapshot(self) -> dict[str, float]:
        """{kind: cpu seconds} over the live tree."""
        stats = self._stats()
        children = defaultdict(list)
        for pid, (ppid, _, _) in stats.items():
            children[ppid].append(pid)
        cpu: dict[str, float] = defaultdict(float)
        stack = [self.root]
        while stack:
            pid = stack.pop()
            if pid not in stats:
                continue
            cpu[self._classify(pid)] += stats[pid][1]
            stack.extend(children.get(pid, ()))
        return dict(cpu)


def stop_spark(tree: ProcessTree, timeout_s: float = 30.0) -> None:
    """Stop the SparkContext, shut down the py4j gateway JVM this process
    launched and wait until every descendant process (JVM, Python
    workers) has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while True:
        left = tree.descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Spans:
    """In-memory span recorder: each span has name, start, end and the
    index of its parent span (the innermost span open when it started)."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": self.now(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Replace `module.attr` with a wrapper that records a span per
        call; `before(args, kwargs)` runs first, outside the span, and
        `after(rec, args, kwargs, result)` may add fields to the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if before is not None:
                before(args, kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def totals(self, since: float = 0.0) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the part covered by child spans), for spans started at or
        after `since`."""
        child_time = defaultdict(float)
        for rec in self.records:
            if rec["end"] is not None and rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, dict] = {}
        for i, rec in enumerate(self.records):
            if rec["end"] is None or rec["start"] < since:
                continue
            d = rec["end"] - rec["start"]
            agg = out.setdefault(rec["name"], {"calls": 0, "s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["s"] += d
            agg["self_s"] += d - child_time[i]
        return out


# --------------------------------------------------------------------------
# Spark: event log, Catalyst, storage
# --------------------------------------------------------------------------


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def catalyst_phases(df) -> dict[str, float]:
    """Plan `df` (if not planned yet) and return its QueryExecution's
    phase durations in seconds: analysis, optimization, planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = kv._2().durationMs() / 1000.0
    return out


_TASK_FIELDS = (
    ("executor_run_s", ("Executor Run Time",), 1e-3),
    ("executor_cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("deserialize_s", ("Executor Deserialize Time",), 1e-3),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Remote Bytes Read"), 1 / MB),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Local Bytes Read"), 1 / MB),
    ("shuffle_write_mb", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / MB),
    ("spill_mb", ("Disk Bytes Spilled",), 1 / MB),
    ("input_mb", ("Input Metrics", "Bytes Read"), 1 / MB),
    ("output_mb", ("Output Metrics", "Bytes Written"), 1 / MB),
)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Fold every event log under `log_dir` into per-job-group sums:
    {group: {jobs, stages, tasks, executor_run_s, ...}}. Jobs run with
    no group land under the key "".

    Stages are counted once per stage id that completed (skipped stages,
    whose shuffle output was reused, never complete and are not counted).
    """
    stage_group: dict[int, str] = {}
    ledger: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in (p for p in paths if os.path.isfile(p) and "appstatus" not in p):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    ledger[group]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    ledger[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    row = ledger[group]
                    row["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for key, path_, mult in _TASK_FIELDS:
                        v = tm
                        for p in path_:
                            v = v.get(p, 0) if isinstance(v, dict) else 0
                        row[key] += (v or 0) * mult
    return {g: dict(v) for g, v in ledger.items()}


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under `path` (0, 0 if it does not exist)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return files, size
