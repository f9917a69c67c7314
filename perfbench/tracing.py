"""Traced-run plumbing, installed from outside the library.

Nothing here edits ``fsql_spark``: the tracer swaps module attributes and
class methods for timing wrappers while a traced operation runs and puts
the originals back afterwards, passes a counting ``LocalFileSystem``
through the public ``fs=`` parameters, and tags each operation's Spark jobs
with a job group so the status tracker can attribute jobs, stages and tasks
to it.

Spans (name, start, end, parent, operation id) stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory spans and counters for the operations of one run."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a helper thread (the discovery listing pool) has
        # no stack of its own yet: its parent is the main thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op))

    def count(self, name: str, n: int | float = 1) -> None:
        with self._lock:
            self.counts[(self.op, name)] += n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of it that
    its children cover (children may overlap — the listing pool — so the
    covered part is the union of their intervals)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = _union_length([(max(a, s.start), min(b, s.end)) for a, b in children.get(s.sid, ()) if b > s.start and a < s.end])
        out[layer_of(s.name)] += max(0.0, (s.end - s.start) - covered)
    return dict(out)


def layer_totals(spans: list[Span]) -> dict[str, float]:
    """Time per span name, counting only spans whose parent has another
    name (a recursive or nested call is not counted twice)."""
    by_id = {s.sid: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        parent = by_id.get(s.parent) if s.parent is not None else None
        if parent is None or parent.name != s.name:
            out[s.name] += s.end - s.start
    return dict(out)


def counting_fs_class():
    """A ``LocalFileSystem`` that records a span per ``ls`` and counts opens."""
    from fsql_spark.fs import LocalFileSystem

    class CountingFileSystem(LocalFileSystem):
        def __init__(self, tracer: Tracer):
            self.tracer = tracer

        def ls(self, url):
            self.tracer.count("fs.ls_calls")
            with self.tracer.span("fs.ls"):
                return super().ls(url)

        def open(self, url, mode="rb"):
            self.tracer.count("fs.open_calls")
            return super().open(url, mode)

    return CountingFileSystem


class Wrappers:
    """Timing wrappers around the library's public functions, swapped in
    for a traced operation only."""

    def __init__(self, tracer: Tracer):
        import fsql_spark.api as api
        import fsql_spark.column_parser as column_parser
        import fsql_spark.maintenance as maintenance
        import fsql_spark.queries as queries
        import fsql_spark.readers as readers
        from fsql_spark.operators import dedup, pipeline

        t = tracer

        def timed(name):
            def deco(fn):
                @functools.wraps(fn)
                def w(*a, **k):
                    with t.span(name):
                        return fn(*a, **k)
                return w
            return deco

        def read(fn):
            @functools.wraps(fn)
            def w(url, query, *a, **k):
                t.count("api.read_calls")
                discovered_before = t.counts[(t.op, "discovery.calls")]
                with t.span("api.read"):
                    out = fn(url, query, *a, **k)
                if t.counts[(t.op, "discovery.calls")] == discovered_before:
                    t.count("api.fast_path_reads")
                return out
            return w

        def discover(fn):
            @functools.wraps(fn)
            def w(*a, **k):
                def gen():
                    t.count("discovery.calls")
                    n = 0
                    with t.span("discovery.walk"):
                        for p in fn(*a, **k):
                            n += 1
                            yield p
                    t.count("discovery.partitions_out", n)
                return gen()
            return w

        def reader_read(fn):
            @functools.wraps(fn)
            def w(self, spark, partitions, fs, fmt):
                parts = list(partitions)
                t.count("readers.bindings", len({tuple(sorted(p.columns.items())) for p in parts}))
                with t.span("readers.read"):
                    return fn(self, spark, parts, fs, fmt)
            return w

        def generate(fn):
            @functools.wraps(fn)
            def w(self):
                out = fn(self)
                if out is not None:
                    t.count("column_parser.generated_segments", len(out))
                return out
            return w

        def counted(name):
            def deco(fn):
                @functools.wraps(fn)
                def w(*a, **k):
                    t.count(name)
                    return fn(*a, **k)
                return w
            return deco

        self._plan = [
            (api, "read_partitioned_table", read),
            (api, "write_table", timed("api.write")),
            (api, "discover_partitions", discover),
            (maintenance, "compact", timed("maintenance.compact")),
            (maintenance, "file_stats", timed("maintenance.file_stats")),
            (readers.SparkReader, "read", reader_read),
            (pipeline, "build_corpus", timed("pipeline.build_corpus")),
            (dedup, "minhash_lsh_pairs", timed("dedup.minhash_lsh_pairs")),
            (dedup, "minhash_signatures", timed("dedup.minhash_signatures")),
        ]
        for cls in (column_parser.AutoParser, column_parser.FixedColumnsParser, column_parser.DateRangeGenerator):
            self._plan.append((cls, "generate", generate))
        query_classes = (
            queries.ConstantQuery, queries.BooleanOperatorQuery, queries.AtomicQuery,
            queries.EqualsQuery, queries.InQuery, queries.LexRangeQuery, queries.DateRangeQuery,
        )
        for cls in query_classes:
            for meth in ("eval_all", "eval_available"):
                if meth in vars(cls):
                    self._plan.append((cls, meth, counted("queries.eval_calls")))
            if "to_column" in vars(cls):
                self._plan.append((cls, "to_column", timed("queries.compile")))

    @contextmanager
    def installed(self):
        saved = []
        try:
            for owner, attr, make in self._plan:
                orig = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, make(orig))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)


class JobGroups:
    """Tags an operation's Spark jobs so the status tracker can count them."""

    def __init__(self, run_tag: str):
        self.run_tag = run_tag
        self.groups: dict[int, list[str]] = defaultdict(list)  # op -> job groups

    @contextmanager
    def group(self, spark, op: int, phase: str):
        name = f"{self.run_tag}-{op}-{phase}"
        self.groups[op].append(name)
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def collect(self, spark) -> dict[int, dict[str, int]]:
        """Per operation: jobs, stages, tasks and the jobs started in its
        ``plan`` phase. Call after the run: the tracker is fed asynchronously."""
        tracker = spark.sparkContext.statusTracker()
        out = {}
        for op, names in self.groups.items():
            jobs = stages = tasks = plan_jobs = 0
            for name in names:
                ids = tracker.getJobIdsForGroup(name)
                jobs += len(ids)
                if name.endswith("-plan"):
                    plan_jobs += len(ids)
                for jid in ids:
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else ()):
                        st = tracker.getStageInfo(sid)
                        if st is not None and st.numCompletedTasks > 0:
                            stages += 1
                            tasks += st.numCompletedTasks
            out[op] = {"jobs": jobs, "stages": stages, "tasks": tasks, "plan_jobs": plan_jobs}
        return out
