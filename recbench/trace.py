"""Span tracer for the benchmark's traced run.

The tracer wraps the engine's public entry points from outside the
package (module and class attributes are swapped, then restored), so the
engine itself carries no tracing code.  Spans live in memory and are
written out once, when the run ends.  Each span owns a Spark job group,
so jobs, stages and tasks are attributed to the innermost span that
launched them; py4j round trips are counted the same way.

Bookkeeping that talks to the JVM (job groups, status tracker, Catalyst
phase times, plan metrics) runs with py4j counting paused, and its wall
time is kept as the tracer's own overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class NullTracer:
    """The untraced run: same interface, no bookkeeping."""

    @contextlib.contextmanager
    def op(self, kind):
        yield

    def action(self, df, fn):
        return fn()

    def install(self):
        pass

    def uninstall(self):
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans = []          # dicts, in start order
        self._stack = []
        self._patches = []
        self._actions = []       # (span, DataFrame) of the open op
        self.py4j = 0
        self._count = True
        self.overhead_s = 0.0

    # -- py4j counting ------------------------------------------------------
    def _install_py4j_counter(self):
        client_cls = type(self.sc._gateway._gateway_client)
        orig = client_cls.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if tracer._count:
                tracer.py4j += 1
            return orig(client, *args, **kwargs)

        client_cls.send_command = send_command
        self._patches.append((client_cls, "send_command", orig))

    @contextlib.contextmanager
    def _bookkeeping(self):
        t0 = time.perf_counter()
        self._count = False
        try:
            yield
        finally:
            self._count = True
            self.overhead_s += time.perf_counter() - t0

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, **meta):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None,
             "name": name, "meta": meta}
        self.spans.append(s)
        self._stack.append(s)
        with self._bookkeeping():
            self.sc.setJobGroup(f"rb{s['id']}", name)
        s["py4j0"] = self.py4j
        s["t0"] = time.perf_counter()
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            s["py4j1"] = self.py4j
            self._stack.pop()
            with self._bookkeeping():
                if parent is not None:
                    self.sc.setJobGroup(f"rb{parent['id']}", parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def op(self, kind):
        """Root span of one benchmark operation; on exit, collects the job
        counts and the Catalyst/plan statistics of its actions."""
        self._actions = []
        with self.span(f"op.{kind}") as root:
            yield root
        with self._bookkeeping():
            self._collect(root)

    def action(self, df, fn):
        with self.span("spark.action") as s:
            out = fn()
        self._actions.append((s, df))
        return out

    # -- engine entry points ----------------------------------------------------
    def _wrap(self, owner, attr, name, reject_exc=None):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                try:
                    return orig(*args, **kwargs)
                except Exception as err:
                    if reject_exc is not None and isinstance(err, reject_exc):
                        s["meta"]["reject"] = True
                    raise

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self):
        from reductstore_spark import query
        from reductstore_spark.condition import rowtier, strtier
        from reductstore_spark.condition.fastcols import FlatCompiler, Unsupported
        from reductstore_spark.operators import dedup, stateful
        from reductstore_spark.plans import planner
        from reductstore_spark.sources.store import RecordStore

        self._install_py4j_counter()
        w = self._wrap
        w(query.QueryEngine, "query", "query.build")
        w(query.QueryEngine, "remove_query", "query.remove_query")
        # query.py imports these by name: wrap the names it resolves
        w(query, "parse_when", "condition.parse")
        w(query, "plan_parsed", "plans.plan")
        for fn in ("flat_bound_sql", "predicate_sql", "truthy_err_sql"):
            w(strtier, fn, "condition.compile", Unsupported)
        w(FlatCompiler, "predicate", "condition.compile", Unsupported)
        w(planner, "compile_predicate", "condition.compile", Unsupported)
        w(rowtier, "interpreter_predicate", "condition.compile", Unsupported)
        w(planner, "apply_when_stateful", "operators.stateful")
        w(planner, "apply_when_stateful_slim", "operators.stateful")
        w(stateful, "each_t_keys", "operators.stateful")
        w(stateful, "gate_keys", "operators.stateful")
        for fn in ("exact_dedup_keep_first", "minhash_lsh_pairs",
                   "simhash_near_dup_components", "minhash_near_dup_components",
                   "connected_components"):
            w(dedup, fn, f"operators.dedup.{fn}")
        w(RecordStore, "read", "sources.store.read")
        w(RecordStore, "write", "sources.store.write")
        w(RecordStore, "update_labels", "sources.store.update")
        w(RecordStore, "remove_matched", "sources.store.remove")
        w(RecordStore, "compact", "sources.store.compact")

    def uninstall(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    # -- JVM-side statistics ------------------------------------------------------
    def _collect(self, root):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans[root["id"]:]:
            jobs = stages = tasks = 0
            for jid in st.getJobIdsForGroup(f"rb{s['id']}"):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in list(info.stageIds):
                    stages += 1
                    sinfo = st.getStageInfo(sid)
                    tasks += sinfo.numTasks if sinfo is not None else 0
            s["jobs"], s["stages"], s["tasks"] = jobs, stages, tasks
        for s, df in self._actions:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                got = phases.get(phase)
                s["meta"][f"{phase}_ms"] = got.get().durationMs() if got.isDefined() else 0
            s["meta"].update(_plan_metrics(qe.executedPlan()))

    def dump(self, path):
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _plan_metrics(plan) -> dict:
    """Operator metrics summed over the final (adaptive) physical plan."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "python_eval_ms": 0}
    todo = [plan]
    while todo:
        p = todo.pop()
        name = p.getClass().getSimpleName()
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, val = kv._1(), kv._2().value()
            if key == "shuffleBytesWritten":
                out["shuffle_write_bytes"] += val
            elif key == "spillSize":
                out["spill_bytes"] += val
            elif key == "pythonTotalTime":
                out["python_eval_ms"] += val
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            ch = p.children().iterator()
            while ch.hasNext():
                todo.append(ch.next())
    return out


def self_times(spans) -> dict:
    """span id -> self time in seconds: its duration minus the part of its
    interval that its children cover."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out
