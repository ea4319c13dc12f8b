"""Per-layer tracing for the statement benchmark, measured from outside.

Nothing here changes the package: each layer is timed around calls into
its public functions, and counted through what Spark already exposes.

* lexer     — ``lexer.tokenize`` is swapped for a timing wrapper in every
              package module that imported it, for the compose call only.
* compiler  — the compose span is the ``PsqlSession.sql`` (or operator)
              call; py4j round trips are counted by wrapping the gateway
              client's ``send_command``; eager jobs are the Spark jobs of
              the span's job group; a plan-cache hit is the same
              DataFrame object coming back for a text composed before.
* Catalyst  — ``QueryExecution.tracker()`` phase times after forcing
              ``executedPlan``, once per DataFrame; Exchange nodes
              counted in that plan.
* execution — the Spark jobs of a span's job group, listed by
              ``statusTracker``, with their stage metrics read from the
              JVM ``AppStatusStore`` once the listener bus has drained
              (its events arrive asynchronously).

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import re
import sys
import time
import weakref
from collections import Counter
from contextlib import contextmanager

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")
PHASES = ("analysis", "optimization", "planning")


class SparkJobs:
    """The Spark jobs of one phase and their stage metrics. Each phase
    runs under its own job group, whose jobs ``statusTracker`` lists; the
    stage metrics come from the JVM ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        ctx = sc._jsc.sc()
        self._store = ctx.statusStore()
        self._bus = ctx.listenerBus()
        gw = sc._gateway
        # AppStatusStore.stageData has Scala default arguments; py4j sees
        # only the five-argument JVM method, so pass every one of them
        self._no_status = gw.jvm.java.util.Collections.emptyList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_stages: set[int] = set()

    @contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc._jsc.clearJobGroup()

    def totals(self, group: str) -> Counter:
        """Totals over the jobs of a finished group."""
        for _ in range(200):
            # the listener bus delivers job events asynchronously, and a
            # job's end event can trail the action's return: wait for both
            self._bus.waitUntilEmpty()
            jobs = sorted(self._tracker.getJobIdsForGroup(group))
            if all(self._tracker.getJobInfo(j).status != "RUNNING" for j in jobs):
                break
            time.sleep(0.005)
        c = Counter(jobs=len(jobs))
        for j in jobs:
            ids = self._store.job(j).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["input_bytes"] += sd.inputBytes()
                    c["input_rows"] += sd.inputRecords()
                    c["output_bytes"] += sd.outputBytes()
                    c["shuffle_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    c["cpu_ns"] += sd.executorCpuTime()
                    c["gc_ms"] += sd.jvmGcTime()
        return c


class Py4jCalls:
    """Counts gateway round trips while enabled. Releases of Python-side
    proxies are not counted: they follow the garbage collector's timing."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    @contextmanager
    def counting(self):
        send = type(self._client).send_command.__get__(self._client)

        def counted(command, *a, **kw):
            if not command.startswith("m\nd\n"):
                self.calls += 1
            return send(command, *a, **kw)

        self._client.send_command = counted
        try:
            yield
        finally:
            del self._client.send_command


class Lexer:
    """Times ``lexer.tokenize`` wherever the package imported it."""

    def __init__(self, tracer: "Tracer"):
        from duckdb_psql_spark import lexer

        self._orig = lexer.tokenize
        self._tracer = tracer
        self.tokens = 0

    @contextmanager
    def timing(self):
        orig, tracer = self._orig, self._tracer

        def tokenize(sql):
            with tracer.span("lexer") as sp:
                toks = orig(sql)
            sp["tokens"] = len(toks)
            self.tokens += len(toks)
            return toks

        mods = [m for name, m in list(sys.modules.items())
                if name.startswith("duckdb_psql_spark") and m is not None
                and getattr(m, "tokenize", None) is orig]
        for m in mods:
            m.tokenize = tokenize
        try:
            yield
        finally:
            for m in mods:
                m.tokenize = orig


class Tracer:
    """Spans of one run: every statement is a root ``stmt`` span whose
    children (``compose``, ``plan``, ``exec``, ``check``, ``lexer``)
    share its id."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.stmt_id = None
        self.jobs = SparkJobs(spark)
        self.py4j = Py4jCalls(spark)
        self.lexer = Lexer(self)
        self.totals: Counter = Counter()
        self._composed: "weakref.WeakValueDictionary[str, object]" = weakref.WeakValueDictionary()
        self._planned: "weakref.WeakSet[object]" = weakref.WeakSet()

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {"stmt": self.stmt_id, "name": name,
              "parent": self._stack[-1]["name"] if self._stack else None, **attrs}
        self._stack.append(sp)
        sp["t0"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    @contextmanager
    def phase(self, name: str):
        """A span whose Spark jobs form one job group; their totals are
        read into the span's ``jobs`` after it ends."""
        group = f"perfbench-{self.stmt_id}-{name}"
        with self.jobs.group(group), self.span(name) as sp:
            yield sp
        sp["jobs"] = self.jobs.totals(group)

    # --- layer probes, each called inside its span ---------------------

    def compose(self, fn, text: str | None):
        """Run ``fn()`` (the compose call) with the lexer and py4j probes."""
        before = self.py4j.calls
        with self.lexer.timing(), self.py4j.counting():
            df = fn()
        self.totals["py4j_calls"] += self.py4j.calls - before
        self.totals["composes"] += 1
        if text is not None and df is not None:
            if self._composed.get(text) is df:
                self.totals["cache_hits"] += 1
            else:
                self._composed[text] = df
        return df

    def plan(self, df) -> None:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        self.totals["exchanges"] += len(_EXCHANGE.findall(plan))
        if df in self._planned:
            return  # a re-run: Catalyst's work was paid when it was first planned
        self._planned.add(df)
        phases = qe.tracker().phases()
        for ph in PHASES:
            opt = phases.get(ph)
            if opt.isDefined():
                self.totals[f"{ph}_ms"] += opt.get().durationMs()

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        by_stmt: dict = {}
        for sp in self.spans:
            by_stmt.setdefault(sp["stmt"], []).append(sp)
        out: Counter = Counter()
        for group in by_stmt.values():
            for sp in group:
                covered = sum(c["t1"] - c["t0"] for c in group
                              if c is not sp and c["parent"] == sp["name"]
                              and sp["t0"] <= c["t0"] and c["t1"] <= sp["t1"])
                out[sp["name"]] += (sp["t1"] - sp["t0"]) - covered
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((sp["t0"] for sp in self.spans), default=0.0)
        spans = [{**sp, "t0": round(sp["t0"] - t0, 6), "t1": round(sp["t1"] - t0, 6)}
                 for sp in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": spans}, f)
