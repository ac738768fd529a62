"""Layer trace taken from outside the program.

The tracer wraps, from the benchmark process, the package's public
functions that the measured ops call (pipeline, GraphStore, SPARQL
compile) and every Spark action and writer call they trigger.  Each
wrapper opens a span: name, start, end, parent and the op it belongs
to.  Spans stay in memory; engine counters (jobs, tasks, shuffle write,
spill, output bytes) are read from the SparkContext status store once,
at the end, and attributed to the innermost span open when each job was
submitted.  No program file is changed.
"""

from __future__ import annotations

import contextlib
import functools
import time

# DataFrame methods that run a Spark job.  localCheckpoint/checkpoint
# only do so when eager.
_ACTIONS = ("count", "collect", "toPandas", "take", "head", "first",
            "show", "isEmpty", "toLocalIterator", "foreach",
            "foreachPartition", "localCheckpoint", "checkpoint")
_WRITES = ("parquet", "save", "saveAsTable", "insertInto", "json", "csv",
           "orc", "text")

# Counter names every span carries.
COUNTERS = ("spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
            "spark.spill_bytes")


class Tracer:
    """Spans and counters for the ops of one benchmark run.

    Recording happens only while an op span is open and ``enabled`` is
    set, so correctness checks and set-up code pass straight through
    the wrappers.
    """

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._pending_df = None
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not (self.enabled and self._stack) and not attrs.get("op"):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "op": parent["op"] if parent else len(self.spans),
             "t0": time.time(), "t1": None, "py4j0": self._py4j,
             "py4j1": None, "attrs": dict(attrs)}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            s["py4j1"] = self._py4j
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str):
        """Root span of one measured op; a no-op while disabled."""
        if not self.enabled:
            yield None
            return
        with self.span(kind, op=True) as s:
            yield s

    def _inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    # -- wrappers ------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _named(self, name_of):
        """Wrapper factory: a span named ``name_of(args)`` around a call."""
        def make(orig):
            @functools.wraps(orig)
            def wrapped(*a, **kw):
                if not (self.enabled and self._stack):
                    return orig(*a, **kw)
                with self.span(name_of(a, kw)):
                    return orig(*a, **kw)
            return wrapped
        return make

    def _action(self, method: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapped(df, *a, **kw):
                eager = (method not in ("localCheckpoint", "checkpoint")
                         or kw.get("eager", a[0] if a else True))
                if (not (self.enabled and self._stack) or not eager
                        or self._inside_action()):
                    return orig(df, *a, **kw)
                with self.span(self._action_name(df, method), action=True):
                    return orig(df, *a, **kw)
            return wrapped
        return make

    def _inside_action(self) -> bool:
        return any(s["attrs"].get("action") for s in self._stack)

    def _action_name(self, df, method: str) -> str:
        if df is self._pending_df:
            return "graph.pending"
        if any(self._inside(n) for n in
               ("fused.build", "sparql.compile", "rank.build", "rank.topk")):
            return f"spark.{method}"
        op = self._stack[0]
        names = {s["name"] for s in self.spans[op["id"]:]}
        if op["name"] in ("build", "noop"):
            if "fused.build" in names and "fused.exec" not in names:
                return "fused.exec"
        if op["name"].startswith("query."):
            return "sparql.exec"
        return f"spark.{method}"

    def install(self) -> None:
        from ferenda_spark import pipeline
        from ferenda_spark.operators import graph, sparql

        def pending(orig):
            @functools.wraps(orig)
            def wrapped(*a, **kw):
                with self.span("graph.pending_plan"):
                    df = orig(*a, **kw)
                self._pending_df = df
                return df
            return wrapped

        def counting(orig):
            def send(command, *a, **kw):
                if command.startswith("c\n"):
                    self._py4j += 1
                return orig(command, *a, **kw)
            return send

        df_cls = type(self.spark.range(1))
        writer_cls = type(self.spark.range(1).write)
        for m in _ACTIONS:
            self._patch(df_cls, m, self._action(m))
        for m in _WRITES:
            self._patch(writer_cls, m, self._writer())
        self._patch(pipeline, "build_triples",
                    self._named(lambda a, kw: "fused.build"))
        self._patch(pipeline, "pending_pages", pending)
        self._patch(graph.GraphStore, "append", self._named(
            lambda a, kw: f"graph.append.{a[2] if len(a) > 2 else kw['table']}"))
        self._patch(graph.GraphStore, "read_current",
                    self._named(lambda a, kw: "graph.read_current"))
        self._patch(graph.GraphStore, "read", self._read())
        for f in ("parse_sparql", "sparql_query"):
            self._patch(sparql, f, self._named(lambda a, kw: "sparql.compile"))
        client = self.spark.sparkContext._gateway._gateway_client
        self._patch(client, "send_command", counting)

    def _writer(self):
        def make(orig):
            @functools.wraps(orig)
            def wrapped(w, *a, **kw):
                if not (self.enabled and self._stack) or self._inside_action():
                    return orig(w, *a, **kw)
                with self.span("spark.write", action=True):
                    return orig(w, *a, **kw)
            return wrapped
        return make

    def _read(self):
        def make(orig):
            @functools.wraps(orig)
            def wrapped(store, table, *a, **kw):
                if self.enabled and self._stack:
                    s = self._stack[-1]["attrs"]
                    s["snapshots"] = (s.get("snapshots", 0)
                                      + len(store.snapshots(table)))
                return orig(store, table, *a, **kw)
            return wrapped
        return make

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- engine counters -----------------------------------------------

    def collect_counters(self, detail=("fused.exec",)) -> None:
        """Attribute every Spark job to the innermost span open at its
        submission and fill each span's ``counters`` (self, not
        including children).  Spans named in ``detail`` also get their
        stages' per-task breakdown.  Call once, after the measured ops."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_start = sorted((s for s in self.spans), key=lambda s: s["t0"])
        for s in self.spans:
            s["counters"] = dict.fromkeys(COUNTERS, 0)
            s["counters"]["spark.output_bytes"] = 0
            s["stages"] = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            owner = None
            for s in by_start:
                if s["t0"] <= t <= s["t1"] and (
                        owner is None or s["t0"] >= owner["t0"]):
                    owner = s
            if owner is None:
                continue
            c = owner["counters"]
            c["spark.jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(k))
                if sd.status().toString() != "COMPLETE":
                    continue
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
                c["spark.output_bytes"] += sd.outputBytes()
                if owner["name"] in detail:
                    owner["stages"].append(_stage(store, sd))

    # -- derived -------------------------------------------------------

    def ops(self) -> list[dict]:
        return [s for s in self.spans if s["attrs"].get("op")]

    def tree(self, op: dict) -> list[dict]:
        return [s for s in self.spans if s["op"] == op["id"]]


def _stage(store, sd) -> dict:
    """One completed stage: wall, run time and the largest task's share
    of the stage's input records (run time when it read none)."""
    tasks = store.taskList(sd.stageId(), sd.attemptId(), 100_000)
    rows, run = [], []
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            rows.append(m.get().inputMetrics().recordsRead())
            run.append(m.get().executorRunTime())
    basis = rows if sum(rows) else run
    sub, done = sd.submissionTime(), sd.completionTime()
    wall = ((done.get().getTime() - sub.get().getTime()) / 1000.0
            if sub.isDefined() and done.isDefined() else 0.0)
    return {"stage": sd.stageId(), "tasks": len(run), "wall_s": wall,
            "run_ms": sd.executorRunTime(),
            "max_task_share": max(basis) / sum(basis) if sum(basis) else 0.0,
            "share_basis": "input_records" if sum(rows) else "run_time"}


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it the span's children cover."""
    kids = sorted((c["t0"], c["t1"]) for c in spans
                  if c["parent"] == span["id"])
    covered, end = 0.0, span["t0"]
    for a, b in kids:
        a, b = max(a, end), min(b, span["t1"])
        if b > a:
            covered += b - a
            end = b
    return (span["t1"] - span["t0"]) - covered

