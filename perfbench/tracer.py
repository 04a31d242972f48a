"""Spans and counters recorded from outside the engine.

A :class:`Tracer` wraps the public functions of each layer (module
attributes and class methods, patched in this process only) so every call
opens a span: name, start, end, parent, op id. Spans stay in memory and are
written out when the run ends. Counts come from outside the engine too:

- py4j commands, by wrapping the gateway client's ``send_command``;
- jobs, stages and tasks, from one job group per op, read back through
  ``statusTracker`` and the status store after the op;
- Python/Arrow rows and bytes, from the executed plan's SQL metrics.

:class:`NullTracer` has the same surface and records nothing; the untraced
phase uses it so the measured code path carries no instrumentation.
"""

from __future__ import annotations

import importlib
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    op: int = -1
    py4j_start: int = 0
    py4j_end: int = 0
    error: str | None = None
    info: dict = field(default_factory=dict)


def union_length(ivs) -> float:
    """Total length covered by (start, end) intervals, overlaps once."""
    total, hi_seen = 0.0, None
    for lo, hi in sorted(ivs):
        if hi <= lo:
            continue
        if hi_seen is None or lo > hi_seen:
            total += hi - lo
            hi_seen = hi
        elif hi > hi_seen:
            total += hi - hi_seen
            hi_seen = hi
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return [
        (s.end - s.start)
        - union_length((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(i, ()))
        for i, s in enumerate(spans)
    ]


class NullTracer:
    """The untraced phase's tracer: no spans, no counters, no job groups."""

    def span(self, name: str, **info):
        return nullcontext()

    def wrap(self, name: str, fn):
        return fn

    def op(self, label: str):
        return nullcontext()


# (module, attribute or "Class.method", span name). Layer names follow the
# package's modules; ``spark.action`` is opened by the workloads themselves.
LAYER_TARGETS: tuple[tuple[str, str, str], ...] = (
    ("lakehouse_spark.io", "load_table", "io.load_table"),
    ("lakehouse_spark.queries._core", "load_table", "io.load_table"),
    ("lakehouse_spark.catalog", "LakeCatalog.sql", "catalog.sql"),
    ("lakehouse_spark.sqldml", "route", "sqldml.route"),
    ("lakehouse_spark.plans.closure", "descendants", "plans.closure"),
    ("lakehouse_spark.operators.sessionize", "aggregate_trace", "operators.aggregate_trace"),
    ("lakehouse_spark.api", "aggregate_trace", "operators.aggregate_trace"),
) + tuple(
    ("lakehouse_spark.api", f"SessionLake.{m}", f"api.{m}")
    for m in (
        "list_sessions", "unread_counts", "message_tail", "events_page",
        "execution_trace", "trace_metrics", "session_closure", "cascade_delete",
        "sql", "register_views",
    )
) + tuple(
    ("lakehouse_spark.mutation.store", f"TableStore.{m}", f"mutation.{m}")
    for m in (
        "read", "append", "upsert", "update", "merge", "delete_keys",
        "delete_where", "compact", "compact_small",
    )
)


class Tracer:
    """Records spans on the main thread. Spans opened by other threads (the
    store's background checkpoint writer) are not recorded."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._op: int = -1
        self._main = threading.main_thread()
        self._undo: list = []

    # -- instrumentation ---------------------------------------------------

    def install(self) -> "Tracer":
        client = self.spark.sparkContext._gateway._gateway_client
        orig_send = client.send_command

        def counted(*a, **k):
            # py4j's finalizer thread sends object-release commands
            # asynchronously; only the client thread's round trips count
            if threading.current_thread() is self._main:
                self.py4j_calls += 1
            return orig_send(*a, **k)

        client.send_command = counted
        self._undo.append(lambda: setattr(client, "send_command", orig_send))
        seen: dict[int, object] = {}
        for mod_name, attr, span_name in LAYER_TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            orig = getattr(owner, attr)
            # the same function bound under two names gets one wrapper
            wrapped = seen.setdefault(id(orig), self.wrap(span_name, orig))
            if attr in vars(owner):
                self._undo.append(lambda o=owner, a=attr, f=orig: setattr(o, a, f))
            else:  # inherited from a mixin: drop the override again
                self._undo.append(lambda o=owner, a=attr: delattr(o, a))
            setattr(owner, attr, wrapped)
        return self

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    @contextmanager
    def span(self, name: str, **info):
        if threading.current_thread() is not self._main:
            yield None
            return
        s = Span(
            name, time.time(),
            parent=self._stack[-1] if self._stack else None,
            op=self._op, py4j_start=self.py4j_calls, info=info,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            self._stack.pop()
            s.py4j_end = self.py4j_calls
            s.end = time.time()

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*a, **k):
            with tracer.span(name) as s:
                out = fn(*a, **k)
                if s is not None and name == "mutation.read":
                    s.info.update(result=out, obj=a[0])
                return out

        traced.__wrapped__ = fn
        return traced

    # -- ops ------------------------------------------------------------------

    @contextmanager
    def op(self, label: str):
        """One client operation: a job group for its Spark work and a root
        span. After it ends (outside its wall time) the status store and
        the executed plans are read back into ``self.ops``."""
        idx = len(self.ops)
        group = f"perfbench-op-{idx}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, label)
        self.ops.append({"label": label, "group": group})
        self._op = idx
        try:
            with self.span("op", label=label) as root:
                yield root
        finally:
            self._op = -1
            sc.setJobGroup("perfbench-idle", "between ops")
            self._read_back(idx)

    def _read_back(self, idx: int) -> None:
        rec = self.ops[idx]
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), jsc.statusTracker()
        spans = [(i, s) for i, s in enumerate(self.spans) if s.op == idx]
        jobs, stage_ids = [], set()
        for jid in tracker.getJobIdsForGroup(rec["group"]):
            jd = store.job(jid)
            sub = jd.submissionTime()
            t_sub = sub.get().getTime() / 1000 if sub.isDefined() else None
            done = jd.completionTime()
            t_end = done.get().getTime() / 1000 if done.isDefined() else t_sub
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
            # innermost span open at submission time (ms clock resolution)
            owner = None
            if t_sub is not None:
                for i, s in spans:
                    if s.start - 0.001 <= t_sub <= s.end + 0.001:
                        owner = i
            jobs.append({"job": jid, "start": t_sub, "end": t_end, "span": owner})
        st = dict.fromkeys(
            ("stages", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0
        )
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            st["stages"] += 1
            st["tasks"] += sd.numCompleteTasks()
            st["task_s"] += sd.executorRunTime() / 1000
            st["gc_s"] += sd.jvmGcTime() / 1000
            st["shuffle_read_bytes"] += sd.shuffleReadBytes()
            st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec.update(jobs=jobs, **st)
        rec["plan_s"] = rec["python_rows"] = rec["python_bytes"] = 0
        rec["python_fold_s"] = 0.0
        for _, s in spans:
            df = s.info.pop("df", None)
            if df is not None:
                self._read_plan(df, rec)
            out = s.info.pop("result", None)
            obj = s.info.pop("obj", None)
            if s.name == "mutation.read" and out is not None:
                files = {f.rsplit("/", 2)[-2] for f in out.inputFiles()}
                s.info["segments_scanned"] = len(files)
                s.info["segments_live"] = obj.n_segments()

    @staticmethod
    def _read_plan(df, rec: dict) -> None:
        """Catalyst time of the action (optimization + physical planning,
        from the query's planning tracker) and the Python/Arrow boundary
        metrics of its executed plan."""
        from lakehouse_spark.plans.metrics import plan_metrics

        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("optimization", "planning"):
                rec["plan_s"] += kv._2().durationMs() / 1000
        for node, mets in plan_metrics(df).items():
            if "pythonDataSent" not in mets:
                continue
            rec["python_rows"] += mets.get("pythonNumRowsReceived", 0)
            rec["python_bytes"] += mets["pythonDataSent"] + mets.get("pythonDataReceived", 0)
            if node.startswith("FlatMapGroupsInPandas"):
                rec["python_fold_s"] += mets.get("pythonTotalTime", 0) / 1000


_COMMIT_KIND = {
    "mutation.append": "append", "mutation.upsert": "upsert",
    "mutation.update": "update", "mutation.merge": "merge",
    "mutation.delete_keys": "delete", "mutation.delete_where": "delete",
    "mutation.compact": "compact", "mutation.compact_small": "compact",
}
COMMIT_KINDS = ("append", "upsert", "update", "merge", "delete", "compact")


def layer_metrics(tr: Tracer, slots: int) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-layer metrics of a traced phase, each a mean per op unless its
    name says otherwise, and a per-op-label breakdown.

    Times are self times; py4j calls and jobs are inclusive of the span's
    subtree; ``mutation.commit_s.<kind>`` is the mean inclusive time of one
    commit call of that kind."""
    spans = tr.spans
    selfs = self_times(spans)
    n = max(1, len(tr.ops))

    def under(i: int | None, name: str) -> int | None:
        """Index of the outermost ancestor-or-self span called ``name``, or
        of any layer's span when ``name`` ends with a dot (``"api."``)."""
        hit = None
        while i is not None:
            here = spans[i].name
            if here == name or (name.endswith(".") and here.startswith(name)):
                hit = i
            i = spans[i].parent
        return hit

    m: dict[str, float] = dict.fromkeys(
        ["queries.build_s", "queries.build_py4j_calls", "queries.build_jobs",
         "io.load_table_s", "api.build_s", "api.build_py4j_calls", "api.build_jobs",
         "operators.trace_fold_s", "plans.closure_s", "plans.closure_jobs",
         "mutation.read_s", "mutation.commit_conflicts", "catalog.sql_s",
         "sqldml.route_self_s", "streaming.sink_s"], 0.0
    )
    commit_t = {k: [] for k in COMMIT_KINDS}
    scanned = live = 0
    for i, (s, st) in enumerate(zip(spans, selfs)):
        calls = s.py4j_end - s.py4j_start
        if s.name == "queries.build":
            m["queries.build_s"] += st
            m["queries.build_py4j_calls"] += calls
        elif s.name == "io.load_table":
            m["io.load_table_s"] += st
        elif s.name.startswith("api."):
            m["api.build_s"] += st
            if under(s.parent, "api.") is None:
                m["api.build_py4j_calls"] += calls
        elif s.name == "operators.aggregate_trace":
            m["operators.trace_fold_s"] += s.end - s.start
        elif s.name == "plans.closure":
            m["plans.closure_s"] += st
        elif s.name == "mutation.read":
            m["mutation.read_s"] += st
            scanned += s.info.get("segments_scanned", 0)
            live += s.info.get("segments_live", 0)
        elif s.name in _COMMIT_KIND and under(s.parent, "mutation.") is None:
            commit_t[_COMMIT_KIND[s.name]].append(s.end - s.start)
        elif s.name == "catalog.sql":
            m["catalog.sql_s"] += st
        elif s.name == "sqldml.route":
            m["sqldml.route_self_s"] += st
        elif s.name == "streaming.sink":
            m["streaming.sink_s"] += st
        if s.error == "ConcurrentWriteError":
            m["mutation.commit_conflicts"] += 1
    spark = dict.fromkeys(
        ("plan_s", "task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "stages", "tasks"), 0.0
    )
    jobs = action_s = job_wall = fold = rows = nbytes = 0.0
    per_label: dict[str, dict] = {}
    for rec in tr.ops:
        for k in spark:
            spark[k] += rec.get(k, 0)
        fold += rec.get("python_fold_s", 0.0)
        rows += rec.get("python_rows", 0)
        nbytes += rec.get("python_bytes", 0)
        jobs += len(rec.get("jobs", ()))
        job_wall += union_length((j["start"], j["end"]) for j in rec.get("jobs", ())
                                 if j["start"] is not None)
        for j in rec.get("jobs", ()):
            if under(j["span"], "queries.build") is not None:
                m["queries.build_jobs"] += 1
            if under(j["span"], "api.") is not None:
                m["api.build_jobs"] += 1
            if under(j["span"], "plans.closure") is not None:
                m["plans.closure_jobs"] += 1
    attributed = wall = 0.0
    for i, (s, st) in enumerate(zip(spans, selfs)):
        if s.name == "spark.action":
            action_s += st
        if s.name != "op":
            continue
        d = s.end - s.start
        wall += d
        attributed += d - st
        lab = per_label.setdefault(
            s.info["label"], {"ops": 0, "wall_s": 0.0, "py4j_calls": 0,
                              "build_py4j_calls": 0, "jobs": 0}
        )
        lab["ops"] += 1
        lab["wall_s"] += d
        lab["py4j_calls"] += s.py4j_end - s.py4j_start
        lab["jobs"] += len(tr.ops[s.op].get("jobs", ()))
    for i, s in enumerate(spans):
        if s.name == "queries.build" or (s.name.startswith("api.") and under(s.parent, "api.") is None):
            lab = per_label[spans[under(i, "op")].info["label"]]
            lab["build_py4j_calls"] += s.py4j_end - s.py4j_start
    for lab in per_label.values():
        for k in ("wall_s", "py4j_calls", "build_py4j_calls", "jobs"):
            lab[k] = lab[k] / lab["ops"]
    out = {k: v / n for k, v in m.items() if k != "mutation.commit_conflicts"}
    out["mutation.commit_conflicts"] = m["mutation.commit_conflicts"]
    out["operators.trace_fold_s"] = (m["operators.trace_fold_s"] + fold) / n
    out["operators.python_rows"] = rows / n
    out["operators.python_bytes"] = nbytes / n
    out["mutation.segments_scanned_ratio"] = scanned / live if live else 0.0
    for k in COMMIT_KINDS:
        t = commit_t[k]
        out[f"mutation.commit_s.{k}"] = sum(t) / len(t) if t else 0.0
    out["spark.plan_s"] = spark["plan_s"] / n
    out["spark.exec_s"] = max(0.0, action_s - spark["plan_s"]) / n
    for k in ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "stages", "tasks"):
        out[f"spark.{k}"] = spark[k] / n
    out["spark.jobs"] = jobs / n
    out["spark.slot_idle_ratio"] = (
        max(0.0, 1.0 - spark["task_s"] / (slots * job_wall)) if job_wall else 0.0
    )
    out["trace.attributed_ratio"] = attributed / wall if wall else 0.0
    return out, per_label
