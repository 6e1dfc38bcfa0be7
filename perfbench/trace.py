"""In-memory span tracing around the engine's public entry points, and the
Spark event-log reader that supplies the substrate counts.

Spans are recorded only in a traced run: :meth:`Tracer.install` replaces the
listed public methods with timing wrappers for the life of the run and
:meth:`Tracer.uninstall` puts the originals back. Nothing is written while
the run measures; the span list is dumped once at the end.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# public methods wrapped in a traced run
PIPELINE_METHODS = ("replay_batches", "apply_batch", "prepare_winners", "run_stream")
LAKE_METHODS = ("read_for_keys", "prepare_upsert", "commit_prepared", "compact",
                "read_where", "changes", "current")
# spans a worker thread with no open span of its own nests under: the
# pipeline spawns executor threads inside these calls and joins them before
# returning (the replay prefetch thread is joined before replay_batches ends)
ADOPTERS = ("pipeline.replay_batches", "pipeline.apply_batch", "stream_drain")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[Span] = []
        self._saved: list[tuple[type, str, object]] = []

    # -- recording ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _adopter(self, name: str) -> int | None:
        # the replay prefetch must nest under replay_batches: it can outlive
        # the apply_batch that happens to be open when it starts
        if name == "pipeline.prepare_winners":
            for s in reversed(self._open):
                if s.name == "pipeline.replay_batches":
                    return s.id
        for s in reversed(self._open):
            if s.name in ADOPTERS:
                return s.id
        return None

    def begin(self, name: str, **attrs) -> Span:
        stack = self._stack()
        with self._lock:
            parent = stack[-1].id if stack else self._adopter(name)
            s = Span(len(self.spans), name, time.time(), None, parent,
                     threading.current_thread().name, attrs)
            self.spans.append(s)
            self._open.append(s)
        stack.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        self._stack().remove(s)
        with self._lock:
            self._open.remove(s)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    # -- wrapping the engine's public methods ---------------------------------

    def _wrap(self, cls: type, meth: str, table_attr: bool) -> None:
        orig = getattr(cls, meth)
        name = f"{'lake' if table_attr else 'pipeline'}.{meth}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *a, **kw):
            attrs = {"table": os.path.basename(obj.root)} if table_attr else {}
            with tracer.span(name, **attrs):
                return orig(obj, *a, **kw)

        self._saved.append((cls, meth, orig))
        setattr(cls, meth, wrapper)

    def install(self, pipeline_cls: type, table_cls: type) -> None:
        for m in PIPELINE_METHODS:
            self._wrap(pipeline_cls, m, False)
        for m in LAKE_METHODS:
            self._wrap(table_cls, m, True)

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    # -- analysis -------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that child spans
        cover (children on parallel threads are merged, not summed)."""
        kids = self.children()
        return {
            s.id: s.dur - busy_seconds([(c.start, c.end) for c in kids.get(s.id, [])],
                                       s.start, s.end)
            for s in self.spans
        }

    def root_of(self, s: Span) -> Span:
        while s.parent is not None:
            s = self.spans[s.parent]
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def check_tree(spans: list[dict], eps: float = 1e-3) -> list[str]:
    """Well-formedness of a dumped span list: every span closed, every child
    inside its parent's interval, self time >= 0."""
    t = Tracer()
    t.spans = [Span(**s) for s in spans]
    errs = []
    for s in t.spans:
        if s.end is None or s.end < s.start:
            errs.append(f"span {s.id} {s.name} not closed")
        elif s.parent is not None:
            p = t.spans[s.parent]
            if s.start < p.start - eps or s.end > p.end + eps:
                errs.append(f"span {s.id} {s.name} outside parent {p.id} {p.name}")
    if not errs:
        errs += [f"span {i} negative self time" for i, v in t.self_times().items()
                 if v < -eps]
    return errs


# -- Spark event log ------------------------------------------------------------

def read_event_log(log_dir: str, exclude_groups: tuple[str, ...]) -> dict:
    """Jobs, tasks, CPU, shuffle bytes and task intervals from the one
    application's uncompressed event log under ``log_dir``. Jobs whose job group is in
    ``exclude_groups`` (benchmark reads and probes) are split out so the
    ingest counts hold only engine work; callers clip both lists to the
    ingest interval."""
    apps = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = apps if os.path.isfile(apps[0]) else sorted(
        (os.path.join(apps[0], f) for f in os.listdir(apps[0]) if f.startswith("events_")),
        key=lambda f: int(os.path.basename(f).split("_")[1]))
    stage_group: dict[int, str] = {}
    jobs = []  # (submit_s, is_ingest)
    tasks = []  # (launch_s, finish_s, cpu_s, shuffle_bytes, is_ingest)
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            cls = "other" if group in exclude_groups else "ingest"
            jobs.append((ev["Submission Time"] / 1000.0, cls == "ingest"))
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = cls
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tasks.append((
                info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0,
                m.get("Executor CPU Time", 0) / 1e9, sw,
                stage_group.get(ev["Stage ID"], "ingest") == "ingest",
            ))
    return {"jobs": jobs, "tasks": tasks}


def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    ivs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
