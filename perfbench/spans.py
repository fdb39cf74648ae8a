"""Traced-run instrumentation, installed from outside the package under test.

``Tracer.install()`` wraps the public entry point of each compiler layer:

* ``strform``: ``parse_str`` (every module binding of it);
* ``parser``:  ``Parser.__call__`` (outermost call; nested calls are counted
  as AST nodes);
* ``nodes``:   ``to_column`` of every ``Node`` subclass (outermost call);
* ``compile``: ``Parser.to_spark``.

The benchmark's op runner opens the ``contract.build``, ``spark.plan`` and
``spark.exec`` spans itself.  Spans live in memory: name, start, end,
parent, query id, and the py4j call count seen while open.  A span's self
time is its duration minus the time its child spans cover.

py4j calls are counted where the Python side sends them: only CALL commands
(``c``), so the garbage-collection detach commands, whose number depends on
collector timing, never enter the count.

Spark counters are read only here: jobs by job group from the status tracker,
per-stage figures from ``AppStatusStore.lastStageAttempt``.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    query: str | None
    calls0: int
    end: float = 0.0
    calls: int = 0
    child_s: float = 0.0
    child_calls: int = 0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s

    @property
    def self_calls(self) -> int:
        return self.calls - self.child_calls


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    ast_nodes: int = 0
    query: str | None = None
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent, self.query, self.py4j_calls)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.calls = self.py4j_calls - sp.calls0
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.end - sp.start
                self.spans[parent].child_calls += sp.calls

    def self_s(self, name: str) -> float:
        return sum(s.self_s for s in self.spans if s.name == name)

    def self_calls(self, name: str) -> int:
        return sum(s.self_calls for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def by_query(self, name: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.query is not None:
                out[s.query] = out.get(s.query, 0.0) + s.self_s
        return out

    # -- patching -----------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        old = owner.__dict__[attr]
        self._undo.append((owner, attr, old))
        setattr(owner, attr, new)

    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        from dftly_spark.nodes.base import Node
        from dftly_spark.parser import Parser
        from dftly_spark.strform import parser as strform_parser

        tracer = self
        for client in (py4j.clientserver.JavaClient, py4j.java_gateway.GatewayClient):
            if "send_command" not in client.__dict__:
                continue
            send = client.__dict__["send_command"]

            def counted(obj, command, *a, _send=send, **kw):
                if command.startswith("c\n"):
                    tracer.py4j_calls += 1
                return _send(obj, command, *a, **kw)

            self._patch(client, "send_command", counted)

        parse = strform_parser.parse_str
        traced_parse = self._outermost("strform")(parse)
        for mod in list(sys.modules.values()):
            if (mod is not None and getattr(mod, "__name__", "").startswith("dftly_spark")
                    and mod.__dict__.get("parse_str") is parse):
                self._patch(mod, "parse_str", traced_parse)

        self._patch(
            Parser, "__call__", self._outermost("parser", count_calls=True)(Parser.__call__)
        )
        to_spark = Parser.__dict__["to_spark"].__func__
        self._patch(Parser, "to_spark", classmethod(self._outermost("compile")(to_spark)))

        lower = self._outermost("nodes")
        stack = [Node]
        while stack:
            cls = stack.pop()
            stack.extend(cls.__subclasses__())
            if "to_column" in cls.__dict__:
                self._patch(cls, "to_column", lower(cls.__dict__["to_column"]))

    def _outermost(self, name: str, count_calls: bool = False):
        """Decorator factory: one depth counter shared by every method it
        wraps, so ``super()`` calls and recursion into children nest inside
        one span opened by the outermost call."""
        depth = [0]
        tracer = self

        def wrap(fn):
            @functools.wraps(fn)
            def wrapped(*a, **kw):
                if count_calls:
                    tracer.ast_nodes += 1
                if depth[0]:
                    depth[0] += 1
                    try:
                        return fn(*a, **kw)
                    finally:
                        depth[0] -= 1
                depth[0] = 1
                try:
                    with tracer.span(name):
                        return fn(*a, **kw)
                finally:
                    depth[0] = 0

            return wrapped

        return wrap

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


@dataclass
class StageTotals:
    """Sums over the distinct stages of a set of Spark jobs."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_records: int = 0
    spill_mb: float = 0.0
    failed_tasks: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def stage_totals(spark, job_ids) -> StageTotals:
    """Read each job's stages from the status store (after the listener
    bus has drained, so the last stage's figures are in)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tot = StageTotals(jobs=len(job_ids))
    seen: set[int] = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = jsc.statusStore().lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            tot.tasks += st.numCompleteTasks() + st.numFailedTasks()
            tot.run_s += st.executorRunTime() / 1e3
            tot.cpu_s += st.executorCpuTime() / 1e9
            tot.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
            tot.shuffle_records += st.shuffleWriteRecords()
            tot.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            tot.failed_tasks += st.numFailedTasks()
    return tot


def plan_phases_ms(jdf) -> dict[str, float]:
    """Catalyst phase durations of a DataFrame's query execution."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
