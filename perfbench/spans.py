"""Span recording from outside the program, and the arithmetic on spans.

The benchmark wraps public entry points of the crawlspark modules
(``Tracer.wrap``) so every call records a span: a name, a start, an
end, the thread it ran on and the span open on that thread when it
started. Nothing inside the program changes; uninstalling the tracer
puts the original attributes back.

``CrawlEngine.run_round`` runs its jobs on a thread pool, so a span
opened on a pool thread has no parent on its own thread. Such a span is
attached to the innermost span open on the driver thread that contains
it in time (``attach_orphans``). Spans on different threads overlap, so
a span's self time is its length minus the *union* of its children's
intervals (``self_time``), never minus their sum.

Spark jobs are attributed to spans through the event log: the wrapper
sets a thread-local Spark property naming the open span, Spark copies
it into each job's start event, and ``attribute_jobs`` maps a job
without one (a job started on a pool thread outside any wrapped call)
to the driver-thread span that contains its submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    thread: int
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped_union(intervals, lo: float, hi: float) -> float:
    """Union length of ``intervals`` restricted to [lo, hi]."""
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's length minus the part its children cover."""
    return span.dur - clipped_union(
        ((c.start, c.end) for c in children), span.start, span.end
    )


def attach_orphans(spans: list[Span], driver_thread: int) -> None:
    """Give each parentless span from a non-driver thread the innermost
    driver-thread span that contains it in time."""
    driver = [s for s in spans if s.thread == driver_thread]
    for s in spans:
        if s.parent is not None or s.thread == driver_thread:
            continue
        best = None
        for d in driver:
            if d.start <= s.start and s.end <= d.end:
                if best is None or d.dur < best.dur:
                    best = d
        if best is not None:
            s.parent = best.id


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def covered_share(outer: list[Span], inner: list[Span]) -> float:
    """Share of the summed length of ``outer`` during which at least one
    ``inner`` span is open (the snaptable critical share of rounds)."""
    total = sum(o.dur for o in outer)
    if total <= 0:
        return 0.0
    ivs = [(s.start, s.end) for s in inner]
    return sum(clipped_union(ivs, o.start, o.end) for o in outer) / total


def median(xs) -> float:
    """Median, or 0.0 for no samples."""
    return statistics.median(xs) if xs else 0.0


def drift_ratio(walls: list[float]) -> float:
    """Mean of the last third of job walls over the mean of the first
    third (1.0 = no drift left inside the window)."""
    if len(walls) < 2:
        return 1.0
    k = max(1, len(walls) // 3)
    return sum(walls[-k:]) / sum(walls[:k])


class Tracer:
    """Records spans around wrapped callables while installed."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []
        self.enabled = False
        self._patches: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.driver_thread = threading.get_ident()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_property(self, value) -> None:
        # only traced jobs name their span to Spark
        if self.sc is not None and self.enabled:
            self.sc.setLocalProperty(SPAN_PROPERTY, value)

    def open(self, name: str, **attrs) -> Span:
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(
            sid,
            name,
            time.perf_counter(),
            float("nan"),
            threading.get_ident(),
            st[-1].id if st else None,
            attrs,
        )
        st.append(sp)
        self._set_property(str(sid))
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        st.pop()
        self._set_property(str(st[-1].id) if st else None)
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, always: bool = False, **attrs):
        """Record a span around the block while the tracer is enabled,
        or always when ``always`` is set."""
        if not (self.enabled or always):
            yield None
            return
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, owner, attr: str, name, table_of=None, always=False) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``name`` is
        the span name; ``table_of(args)``, when given, names the table
        the call works on and is stored in the span's attributes. An
        ``always`` wrapper records while the tracer is disabled too."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = {"table": table_of(args)} if table_of and tracer.enabled else {}
            with tracer.span(name, always, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def to_json(self, path: str, extra: dict | None = None) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "start_s": round(s.start - t0, 6),
                "dur_s": round(s.dur, 6),
                "thread": s.thread,
                "parent": s.parent,
                **s.attrs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump({**(extra or {}), "spans": rows}, f, indent=1)


# ------------------------------------------------------------ event log
@dataclass
class JobStats:
    job_id: int
    submit_s: float  # epoch seconds
    span: int | None
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0


def read_event_log(lines) -> list[JobStats]:
    """Per-job task totals from Spark event-log JSON lines."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            prop = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            jobs[jid] = JobStats(
                jid, ev["Submission Time"] / 1000.0, int(prop) if prop else None
            )
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if jid is None or m is None:
                continue
            j = jobs[jid]
            j.tasks += 1
            j.task_s += m.get("Executor Run Time", 0) / 1000.0
            j.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            j.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            j.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            j.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(
    jobs: list[JobStats], spans: list[Span], driver_thread: int, epoch_offset: float
) -> dict[int, int | None]:
    """job id -> span id. A job carrying the span property belongs to
    that span; any other job belongs to the innermost driver-thread span
    open at its submission time (``epoch_offset`` converts span clocks
    to epoch seconds), or to none."""
    known = {s.id for s in spans}
    driver = [s for s in spans if s.thread == driver_thread]
    out: dict[int, int | None] = {}
    for j in jobs:
        if j.span is not None and j.span in known:
            out[j.job_id] = j.span
            continue
        t = j.submit_s - epoch_offset
        best = None
        for d in driver:
            if d.start <= t <= d.end and (best is None or d.dur < best.dur):
                best = d
        out[j.job_id] = best.id if best is not None else None
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    kids = children_of(spans)
    out, todo = {root}, [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c.id)
            todo.append(c.id)
    return out
