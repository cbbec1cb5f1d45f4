"""Spans, Spark-job call sites and layer attribution for the traced run.

The engine is not edited. The tracer records spans from the benchmark's
own process by wrapping engine methods in place (``Tracer.wrap``) and
tags every Spark action with the Python line that triggered it
(``CallSiteHook``). Spark's event log supplies job times and task
metrics; ``attribute`` maps each job to a layer phase from its call
site's enclosing function (and, inside ``LakeTable._merge_batch_once``,
from the statement that fires it).
"""

from __future__ import annotations

import ast
import contextlib
import dataclasses
import functools
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

CALLSITE_PROP = "perfbench.callsite"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    thread: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _patch(owner, attr: str, new, saved: list) -> None:
    """Replace ``owner.attr``, remembering how to undo it in ``saved``."""
    saved.append((owner, attr, owner.__dict__.get(attr), attr in owner.__dict__))
    setattr(owner, attr, new)


def _restore(saved: list) -> None:
    for owner, attr, raw, had in reversed(saved):
        if had:
            setattr(owner, attr, raw)
        else:
            delattr(owner, attr)
    saved.clear()


class Tracer:
    """In-memory spans. ``wrap`` replaces a method with a timed version
    until ``close``; spans nest per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        s = Span(next(self._ids), name, time.time(),
                 parent=stack[-1] if stack else None, thread=threading.get_ident())
        stack.append(s.id)
        self.spans.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] == s.id:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__.get(attr)
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def timed(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        _patch(owner, attr, staticmethod(timed) if is_static else timed, self._patches)

    def close(self) -> None:
        _restore(self._patches)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def to_json(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


# ---------- Spark action call sites ----------


def _skip_dirs() -> tuple[str, ...]:
    import py4j
    import pyspark

    return (
        os.path.dirname(pyspark.__file__),
        os.path.dirname(py4j.__file__),
        os.path.abspath(__file__),
    )


class CallSiteHook:
    """Tags each Spark action with ``path:line`` of the innermost caller
    outside pyspark, py4j and this module, as the job-group local property
    ``perfbench.callsite``. PySpark sets ``callSite.short`` for only a few
    actions (``collect`` yes, ``count`` no), so the benchmark sets its own
    property around every action it knows."""

    def __init__(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        self.targets = [
            (DataFrame, a)
            for a in ("count", "collect", "toPandas", "toArrow", "toLocalIterator",
                      "localCheckpoint", "checkpoint", "isEmpty", "foreachPartition")
        ] + [(DataFrameWriter, a) for a in ("parquet", "save", "json", "text", "csv")]
        self._skip = _skip_dirs()
        self._local = threading.local()
        self._saved: list = []
        self.self_s = 0.0  # time spent in the hook itself: its own overhead

    def _caller(self) -> str | None:
        f = sys._getframe(2)
        while f is not None and f.f_code.co_filename.startswith(self._skip):
            f = f.f_back
        return f"{f.f_code.co_filename}:{f.f_lineno}" if f is not None else None

    def install(self) -> None:
        hook = self
        for owner, attr in self.targets:
            orig = getattr(owner, attr, None)
            if orig is None:
                continue

            def make(orig):
                @functools.wraps(orig)
                def tagged(obj, *a, **k):
                    if getattr(hook._local, "depth", 0):
                        return orig(obj, *a, **k)
                    t0 = time.perf_counter()
                    session = getattr(obj, "sparkSession", None) or obj._spark
                    sc = session.sparkContext
                    sc.setLocalProperty(CALLSITE_PROP, hook._caller())
                    hook._local.depth = 1
                    hook.self_s += time.perf_counter() - t0
                    try:
                        return orig(obj, *a, **k)
                    finally:
                        t1 = time.perf_counter()
                        hook._local.depth = 0
                        sc.setLocalProperty(CALLSITE_PROP, None)
                        hook.self_s += time.perf_counter() - t1

                return tagged

            _patch(owner, attr, make(orig), self._saved)

    def remove(self) -> None:
        _restore(self._saved)


# ---------- event log ----------


@dataclass
class Job:
    id: int
    start: float  # epoch seconds
    end: float
    site: str | None
    stages: list[int]
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def read_event_log(path: str) -> list[Job]:
    """Jobs of one application's event log. A running application's log
    is ``<app id>.inprogress`` and may end in a partly written line."""
    if not os.path.exists(path):
        path += ".inprogress"
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(e["Job ID"], e["Submission Time"] / 1000, 0.0,
                        (e.get("Properties") or {}).get(CALLSITE_PROP),
                        list(e.get("Stage IDs", [])))
                jobs[j.id] = j
                for sid in j.stages:
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e.get("Stage ID"), -1))
                m = e.get("Task Metrics") or {}
                if j is None or not m:
                    continue
                j.task_s += m.get("Executor Run Time", 0) / 1000
                j.gc_s += m.get("JVM GC Time", 0) / 1000
                j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return [j for j in jobs.values() if j.end]


# ---------- attribution ----------


class SourceIndex:
    """Maps ``path:line`` inside the engine package to the enclosing
    function and the names used by the innermost enclosing statement."""

    def __init__(self, package_dir: str) -> None:
        self.package_dir = os.path.abspath(package_dir)
        self._trees: dict[str, list[tuple[int, int, str, ast.AST]]] = {}

    def _functions(self, path: str):
        if path not in self._trees:
            with open(path) as fh:
                tree = ast.parse(fh.read())
            self._trees[path] = [
                (n.lineno, n.end_lineno, n.name, n)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        return self._trees[path]

    def locate(self, site: str) -> tuple[str, str, set[str]] | None:
        """``(module, function, statement names)`` for a call site in the
        package, module relative like ``table/lake.py``; None outside it."""
        path, _, line = site.rpartition(":")
        path = os.path.abspath(path)
        if not path.startswith(self.package_dir + os.sep) or not line.isdigit():
            return None
        ln = int(line)
        module = os.path.relpath(path, self.package_dir).replace(os.sep, "/")
        inner = [f for f in self._functions(path) if f[0] <= ln <= f[1]]
        if not inner:
            return module, "<module>", set()
        lo, hi, name, node = max(inner, key=lambda f: f[0])
        stmts = [
            s for s in ast.walk(node)
            if isinstance(s, ast.stmt) and s is not node
            and s.lineno <= ln <= s.end_lineno
        ]
        names: set[str] = set()
        if stmts:
            stmt = max(stmts, key=lambda s: (s.lineno, -s.end_lineno))
            for n in ast.walk(stmt):
                if isinstance(n, ast.Name):
                    names.add(n.id)
                elif isinstance(n, ast.Attribute):
                    names.add(n.attr)
        return module, name, names


# Statements of LakeTable._merge_batch_once, by a name they use, in the
# order the rules are tried. A later refactor that renames these
# variables moves their jobs to lake.unattributed until the table follows.
MERGE_STATEMENTS = (
    ("max_sv_row", "lake.schema_probe"),
    ("has_moves", "lake.move_probe"),
    ("src_buckets", "lake.move_probe"),
    ("touched", "lake.fold"),
    ("row", "lake.fold"),  # the hot-key probe, when one is asked for
    ("lin_rows", "lake.lineage"),
    ("dl_count", "lake.deadletter"),
    ("dl_path", "lake.deadletter"),
)

LAKE_FUNCTIONS = {
    "lookup": "lake.lookup",
    "visible": "lake.scan",
    "read_registers": "lake.scan",
    "_read_registers_of": "lake.scan",
    "dead_letters": "lake.side_read",
    "lineage_df": "lake.side_read",
}

UNATTRIBUTED = "lake.unattributed"


def attribute(site: str | None, spans: list[str], index: SourceIndex) -> str:
    """Layer phase of one Spark job. ``spans`` are the names of the spans
    open when the job was submitted, outermost first. Engine call sites
    decide; a call site outside the engine (the benchmark consuming a
    DataFrame the engine returned) takes the innermost benchmark span
    (``reads.*``, ``catalog.*``); everything else is unattributed."""
    loc = index.locate(site) if site else None
    if loc is not None:
        module, func, names = loc
        if module == "table/lake.py":
            if func == "_merge_batch_once":
                for name, phase in MERGE_STATEMENTS:
                    if name in names:
                        return phase
                return UNATTRIBUTED
            if func == "_write_register_files":
                return "lake.optimize" if "lake.optimize_layout" in spans else "lake.rewrite"
            return LAKE_FUNCTIONS.get(func, UNATTRIBUTED)
        if module == "streaming/runner.py":
            return "runner.move_detect" if func == "batch_move_runs" else "runner.epoch"
    for name in reversed(spans):
        if name.startswith(("reads.", "catalog.")):
            return name
    if "runner.epoch" in spans and "lake.merge_batch" not in spans:
        return "runner.epoch"
    return UNATTRIBUTED


def open_spans(spans: list[Span], t: float) -> list[Span]:
    """Spans containing instant ``t``, outermost first."""
    inside = [s for s in spans if s.start <= t <= (s.end or float("inf"))]
    return sorted(inside, key=lambda s: s.start)
