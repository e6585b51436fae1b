"""Outside-in tracing for the benchmark.

Nothing here edits the engine. Spans are recorded around calls into the
engine's public functions, either from the workload loop or by wrapping a
public method on one instance (``Tracer.wrap``). Each span sets a Spark job
tag while it is open, so every job the call launches can be attributed to it
afterwards from the JVM status store (``StatusCollector``). Spans stay in
memory until ``Tracer.dump``.

Also here: the storage probe (bytes and files under a table base) and the
memory sampler (peak RSS of this process and all its descendants).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans with parent links; one run id per process."""

    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        tag = f"pb{sp.sid}"
        self.sc.addJobTag(tag)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.removeJobTag(tag)
            self._stack.pop()

    def wrap(self, obj, method: str, name: str,
             before: Callable[[], object] | None = None,
             after: Callable[[Span, object, object], None] | None = None) -> None:
        """Replace ``obj.method`` on this instance with a spanned call.

        ``before()`` runs ahead of the span and its value is handed to
        ``after(span, before_value, result)``, which runs once the span has
        closed, so neither is counted in the call's time."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            pre = before() if before else None
            with self.span(name) as sp:
                out = inner(*args, **kwargs)
            if after:
                after(sp, pre, out)
            return out

        setattr(obj, method, traced)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it its child spans cover."""
        return sp.dur - union_length([(c.start, c.end) for c in kids.get(sp.sid, [])])

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent, "run": self.run_id,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6), **s.attrs}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra, "spans": rows}, f, indent=0)


class NullTracer:
    """Timed runs: no spans, no tags, no probes."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[None]:
        yield None

    def wrap(self, *args, **kwargs) -> None:
        pass


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ status store

STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes")


class StatusCollector:
    """Per-job and per-stage numbers from the JVM status store.

    Works with ``spark.ui.enabled=false``; the store keeps as many jobs and
    stages as ``spark.ui.retainedJobs`` / ``retainedStages`` allow."""

    def __init__(self, sc):
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.gw = sc._gateway
        self._jobs: dict[int, dict] = {}
        self._stages: dict[int, dict] = {}
        self._spans: dict[int, dict] = {}

    def jobs_for_tag(self, tag: str) -> list[int]:
        return sorted(int(j) for j in self.jsc.statusTracker().getJobIdsForTag(tag))

    def job(self, jid: int) -> dict:
        if jid not in self._jobs:
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            ids = jd.stageIds()
            self._jobs[jid] = {
                "start_ms": sub.get().getTime() if sub.isDefined() else 0,
                "end_ms": done.get().getTime() if done.isDefined() else 0,
                "stages": [int(ids.apply(i)) for i in range(ids.length())],
            }
        return self._jobs[jid]

    def stage(self, sid: int) -> dict:
        if sid not in self._stages:
            agg = dict.fromkeys(STAGE_FIELDS, 0.0)
            agg["complete"] = 0
            try:
                data = self.store.stageData(
                    sid, False, self.gw.jvm.java.util.ArrayList(), False,
                    self.gw.new_array(self.gw.jvm.double, 0))
            except Exception:  # noqa: BLE001 - a stage evicted or never run has no data
                data = None
            for k in range(data.length() if data is not None else 0):
                d = data.apply(k)
                if d.status().toString() != "COMPLETE":
                    continue
                agg["complete"] += 1
                agg["tasks"] += d.numCompleteTasks()
                agg["run_s"] += d.executorRunTime() / 1e3
                agg["cpu_s"] += d.executorCpuTime() / 1e9
                agg["gc_s"] += d.jvmGcTime() / 1e3
                agg["shuffle_write_bytes"] += d.shuffleWriteBytes()
                agg["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                agg["input_bytes"] += d.inputBytes()
                agg["output_bytes"] += d.outputBytes()
            self._stages[sid] = agg
        return self._stages[sid]

    def span_stats(self, sid: int) -> dict:
        """Totals over the jobs tagged with span ``sid``."""
        if sid in self._spans:
            return self._spans[sid]
        jids = self.jobs_for_tag(f"pb{sid}")
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out.update(jobs=len(jids), stages=0, intervals=[])
        for j in jids:
            jd = self.job(j)
            out["intervals"].append((jd["start_ms"] / 1e3, jd["end_ms"] / 1e3))
            for s in jd["stages"]:
                st = self.stage(s)
                out["stages"] += st["complete"]
                for k in STAGE_FIELDS:
                    out[k] += st[k]
        out["spark_s"] = union_length(out.pop("intervals"))
        self._spans[sid] = out
        return out


# ------------------------------------------------------------ storage probe

def walk_files(base: str) -> dict[str, int]:
    """relpath -> size of every regular file under ``base``."""
    out: dict[str, int] = {}
    stack = [base]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except FileNotFoundError:
            continue
        with it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    stack.append(e.path)
                elif e.is_file(follow_symlinks=False):
                    try:
                        out[os.path.relpath(e.path, base)] = e.stat().st_size
                    except FileNotFoundError:
                        pass
    return out


def diff_files(before: dict[str, int], after: dict[str, int]) -> dict:
    added = [p for p in after if p not in before]
    removed = [p for p in before if p not in after]
    grown = sum(max(0, after[p] - before[p]) for p in after if p in before)
    return {
        "added": added,
        "bytes_added": sum(after[p] for p in added) + grown,
        "files_removed": len(removed),
        "bytes_removed": sum(before[p] for p in removed),
    }


# ------------------------------------------------------------ memory sampler

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _hwm_bytes(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class MemSampler:
    """One thread sampling the peak RSS of every process in this process tree.

    Per process it keeps the latest ``VmHWM`` (the kernel's own high-water
    mark, which restarts at exec) and ``peak`` sums them over processes seen
    in at least two samples, exited ones included. That leaves out helpers
    that live for less than one interval: a child between fork and exec
    reports its parent's memory."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._hwm: dict[int, int] = {}
        self._seen: dict[int, int] = {}
        self._names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _settled(self) -> list[int]:
        return [p for p, n in self._seen.items() if n >= 2]

    @property
    def peak(self) -> int:
        return sum(self._hwm[p] for p in self._settled())

    def by_process(self) -> dict[str, float]:
        """Peak MB per counted process, keyed ``pid:name``."""
        return {f"{p}:{self._names.get(p, '?')}": self._hwm[p] / 2**20 for p in self._settled()}

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            for pid in tree_pids(root):
                hwm = _hwm_bytes(pid)
                if hwm is not None:
                    self._hwm[pid] = hwm
                    self._seen[pid] = self._seen.get(pid, 0) + 1
                    self._names[pid] = _comm(pid)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
