"""Tracing for the traced run: in-memory spans around the engine's public
entry points, the Spark event log parsed offline, and the Python UDF
profiler's stats. Nothing here runs during the timed end-to-end runs."""

from __future__ import annotations

import functools
import glob
import json
import os
import pstats
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out by ``dump``. A span's parent is
    the innermost open span of the same thread; a span opened by another
    thread (a sink-writer pool, the streaming callback) takes the
    innermost open span of the thread that opened the root."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._root_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, root: bool = False):
        tracer = self

        class _Ctx:
            def __enter__(self):
                with tracer._lock:
                    self.id = tracer._next
                    tracer._next += 1
                stack = tracer._stack()
                if stack:
                    self.parent = stack[-1]
                else:  # a pool or callback thread working for the root
                    self.parent = tracer._root_stack[-1] if tracer._root_stack else None
                stack.append(self.id)
                if root:
                    tracer._root_stack = stack
                self.t0 = time.monotonic()
                return self

            def __exit__(self, *exc):
                t1 = time.monotonic()
                tracer._stack().pop()
                if root:
                    tracer._root_stack = []
                with tracer._lock:
                    tracer.spans.append(Span(self.id, name, self.t0, t1, self.parent))
                return False

        return _Ctx()

    def wrap(self, owner: object, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a timing wrapper. ``name`` is a span
        name or a function of the call's arguments giving one; ``after``
        is called with (args, kwargs, result, span) when the call returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as sp:
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result, sp)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def total(self, name: str, within: Span | None = None) -> float:
        return sum(s.dur for s in self.spans if s.name == name
                   and (within is None or within.start <= s.start <= within.end))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def closure(tracer: Tracer, root: Span) -> float:
    """Share of the root span's wall covered by its direct child spans
    (the layers), with overlapping children merged."""
    ivs = sorted((s.start, s.end) for s in tracer.children(root.id))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / root.dur if root.dur > 0 else 0.0


# ------------------------------------------------------------- event log
def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` (plain files or Spark 4's
    ``eventlog_v2_*`` directories), oldest first."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*")) + [
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return sorted(files, key=os.path.getmtime)


def _acc(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update", 0) or 0) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


def _udf_nodes(plan: dict, udf: str) -> list[tuple[int, int]]:
    """(data-sent, output-rows) accumulator ids of every ArrowEvalPython
    node of a SQL plan that calls the Python function ``udf``."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", []))
        if node.get("nodeName") == "ArrowEvalPython" and f"{udf}(" in node.get("simpleString", ""):
            ids = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
            out.append((ids["data sent to Python workers"], ids["number of output rows"]))
    return out


def parse_event_log(lines, t0_ms: float, t1_ms: float, udf: str = "_extract",
                    arrow_batch_rows: int = 10_000) -> dict:
    """Aggregate task and job events whose start falls in [t0_ms, t1_ms]
    (epoch milliseconds). ``lines`` is any iterable of JSON lines.

    ``py_max_batch_bytes`` is the largest mean Arrow batch one task sent to
    the Python function ``udf``: the task's bytes sent to that node over
    its batches, ``ceil(rows / arrow_batch_rows)``; ``py_batches`` sums
    those batch counts."""
    out = dict(jobs=0, tasks=0, task_s=0.0, gc_s=0.0, retries=0, failed_tasks=0,
               input_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
               py_bytes_in=0, py_bytes_out=0, shuffle_skew=0.0, shuffle_read_bytes=0,
               py_max_batch_bytes=0.0, py_batches=0)
    reads_by_stage: dict[int, list[int]] = {}
    events = [json.loads(line) for line in lines]
    # a cached plan's nodes can first appear in a re-plan logged after the
    # tasks that filled the cache, so the plans are read first
    udf_ids = {ids for e in events if "sparkPlanInfo" in e
               for ids in _udf_nodes(e["sparkPlanInfo"], udf)}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            if t0_ms <= e.get("Submission Time", 0) <= t1_ms:
                out["jobs"] += 1
        elif ev == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not t0_ms <= info["Launch Time"] <= t1_ms:
                continue
            m = e.get("Task Metrics") or {}
            out["tasks"] += 1
            out["retries"] += int(info.get("Attempt", 0) > 0)
            out["failed_tasks"] += int(bool(info.get("Failed")))
            out["task_s"] += m.get("Executor Run Time", 0) / 1000
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000
            out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            if read:
                out["shuffle_read_bytes"] += read
                reads_by_stage.setdefault(e["Stage ID"], []).append(read)
            out["py_bytes_in"] += _acc(info, "data sent to Python workers")
            out["py_bytes_out"] += _acc(info, "data returned from Python workers")
            upd = {a.get("ID"): int(a.get("Update", 0) or 0) for a in info.get("Accumulables", [])}
            for sent_id, rows_id in udf_ids:
                if upd.get(rows_id):
                    batches = -(-upd[rows_id] // arrow_batch_rows)
                    out["py_batches"] += batches
                    out["py_max_batch_bytes"] = max(out["py_max_batch_bytes"],
                                                    upd.get(sent_id, 0) / batches)
    if reads_by_stage:
        # skew of the stage that read the most shuffle bytes
        reads = max(reads_by_stage.values(), key=sum)
        med = statistics.median(reads)
        out["shuffle_skew"] = max(reads) / med if med > 0 else 0.0
    return out


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float, **kw) -> dict:
    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f
    return parse_event_log(lines(), t0_ms, t1_ms, **kw)


# -------------------------------------------------------------- profiler
def udf_profile(dump_dir: str, func: str) -> tuple[float, int]:
    """(cumulative seconds, calls) of ``func`` across the dumped perf
    profiles: the Python compute of a UDF body, without Arrow I/O."""
    secs, calls = 0.0, 0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path).stats
        for (_, _, fn), (cc, nc, tt, ct, _callers) in st.items():
            if fn == func:
                secs += ct
                calls += nc
    return secs, calls
