"""Spans and counters for a traced run, recorded from outside the package.

Every layer is timed by wrapping calls to its public functions:

- ``catalog.load_table``: ``sources.catalog.load_table``, rebound in every
  module that imported it by name;
- ``plans.build``: the op's ``spec.fn(spark, sf_dir)`` call;
- ``catalyst.plan``: ``df._jdf.queryExecution().executedPlan()``, forced
  before collect; Spark's own phase times come from its tracker;
- ``exec.collect``: ``df.collect()``;
- ``sinks.write``: every ``sources.sinks.write_*`` function;
- ``streaming.batch``: micro-batches reported to a StreamingQueryListener;
- ``spark.job``: each Spark job, timed from its submission and completion
  times in the status store. Each layer span runs under its own job group,
  so a job's parent is the layer span that launched it. Streaming jobs run
  under their query's run id and belong to the op that ran the query.

A layer's self time is its span minus the union of its child layer spans.
Job spans do not count as children: a job's time stays in the layer that
waited for it. Spans are kept in memory and written when the run ends.

Counters read at op end, outside the op's timing: jobs, stages, tasks,
executor time and bytes (status store), Py4J round trips (a counting
wrapper on the Py4J client; main thread only, proxy releases and the
tracer's own calls excluded), JVM GC (GC MXBeans) and temp dirs (a
wrapped ``tempfile.mkdtemp``). PPJoin counters are filled in after the
last pass: each ``jaccard_near_dupes`` call an op made is recounted with
``metrics=...`` (``Tracer.recount_ppjoin``).
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from py4j import protocol
from py4j.clientserver import JavaClient

LAYERS = ("catalog.load_table", "plans.build", "catalyst.plan",
          "exec.collect", "sinks.write", "streaming.batch")
_MEM_DEL = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
_MB = 1024 * 1024


def du_bytes(path) -> int:
    """Bytes on disk under ``path`` (files and directories, like du)."""
    total = 0
    for root, dirs, files in os.walk(path):
        for n in dirs + files:
            try:
                total += os.lstat(os.path.join(root, n)).st_blocks * 512
            except FileNotFoundError:
                pass
    return total


def _union_s(intervals) -> float:
    """Total length covered by (start, end) intervals with end >= start."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def _rebind(original, replacement) -> None:
    """Point every package module attribute bound to ``original`` at
    ``replacement`` (modules import layer functions by name)."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("bigdata2016w_spark"):
            for k, v in list(vars(mod).items()):
                if v is original:
                    setattr(mod, k, replacement)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.own_s = 0.0
        self.py4j_calls = 0
        self.dirs_created: list[str] = []
        self._stack: list[dict] = []
        self._own_depth = 0
        self._main = threading.get_ident()
        self._op = None
        self._progress: list[dict] = []
        # (op counters, jaccard_near_dupes args) awaiting recount_ppjoin
        self._ppjoin_calls: list[tuple[dict, tuple]] = []
        self._install()

    # -- bookkeeping ---------------------------------------------------

    @contextmanager
    def own(self):
        """Tracer work: timed as overhead, its Py4J calls not counted."""
        t0 = time.perf_counter()
        self._own_depth += 1
        try:
            yield
        finally:
            self._own_depth -= 1
            self.own_s += time.perf_counter() - t0

    def _new_span(self, name, **attrs) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": self._op["id"] if self._op else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name, **attrs):
        rec = self._new_span(name, **attrs)
        self._stack.append(rec)
        with self.own():
            self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            with self.own():
                if self._stack:
                    top = self._stack[-1]
                    self.sc.setJobGroup(f"perfbench-{top['id']}", top["name"])

    @contextmanager
    def block(self, name, **attrs):
        """A structural span (run, pass) that launches no jobs itself."""
        rec = self._new_span(name, **attrs)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    # -- wrappers ------------------------------------------------------

    def _install(self) -> None:
        from bigdata2016w_spark.operators import dedup
        from bigdata2016w_spark.registry import all_specs
        from bigdata2016w_spark.sources import catalog, sinks
        from pyspark.sql.streaming.listener import StreamingQueryListener

        all_specs()  # import every plan module before rebinding
        tracer = self

        send = JavaClient.send_command

        def counting_send(client, command, *a, **k):
            if (tracer._own_depth == 0 and threading.get_ident() == tracer._main
                    and not command.startswith(_MEM_DEL)):
                tracer.py4j_calls += 1
            return send(client, command, *a, **k)

        JavaClient.send_command = counting_send

        load = catalog.load_table

        def traced_load(spark, sf_dir, name):
            with tracer.span("catalog.load_table", table=name):
                return load(spark, sf_dir, name)

        _rebind(load, traced_load)

        for fn_name in [n for n in vars(sinks) if n.startswith("write_")]:
            _rebind(getattr(sinks, fn_name), self._traced_write(fn_name, getattr(sinks, fn_name)))

        jaccard = dedup.jaccard_near_dupes

        def traced_jaccard(docs, threshold=0.5, shingled=None, metrics=None):
            if tracer._op is not None:
                tracer._op["ppjoin"].append((docs, threshold, shingled))
            return jaccard(docs, threshold, shingled, metrics)

        self._jaccard = jaccard

        _rebind(jaccard, traced_jaccard)

        mkdtemp = tempfile.mkdtemp

        def traced_mkdtemp(*a, **k):
            path = mkdtemp(*a, **k)
            tracer.dirs_created.append(path)
            return path

        tempfile.mkdtemp = traced_mkdtemp

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")).timestamp()
                tracer._progress.append({
                    "run_id": str(p.runId), "batch": p.batchId, "start": start,
                    "end": start + p.batchDuration / 1000.0,
                    "rows": p.numInputRows,
                    "add_batch_ms": p.durationMs.get("addBatch", 0)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    def _traced_write(self, fn_name, fn):
        tracer = self

        def traced(*a, **k):
            path = k.get("path", a[1] if len(a) > 1 else None)
            nested = any(s["name"] == "sinks.write" for s in tracer._stack)
            with tracer.span("sinks.write", fn=fn_name) as rec:
                result = fn(*a, **k)
            with tracer.own():
                if not nested and isinstance(path, str) and os.path.exists(path):
                    rec["bytes"] = du_bytes(path)
            return result

        return traced

    # -- ops -----------------------------------------------------------

    @contextmanager
    def op(self, name: str, pass_idx: int):
        """Span one op; yields the op record, filled in after the op."""
        with self.own():
            gc0 = self._gc()
        rec = self._new_span("op", op_name=name, **{"pass": pass_idx})
        rec["op"] = rec["id"]
        rec["ppjoin"] = []
        self._op = rec
        calls0 = self.py4j_calls
        self._stack.append(rec)
        with self.own():
            self.sc.setJobGroup(f"perfbench-{rec['id']}", "op")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._op = None
            with self.own():
                self.sc._jsc.clearJobGroup()
                rec["counts"] = self._finish_op(rec, gc0, self.py4j_calls - calls0)

    def catalyst_phases(self, rec: dict, qe) -> None:
        with self.own():
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    s = opt.get()
                    rec[f"catalyst.{ph}_ms"] = s.endTimeMs() - s.startTimeMs()

    def _gc(self):
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return (sum(b.getCollectionTime() for b in beans),
                sum(b.getCollectionCount() for b in beans))

    def _finish_op(self, rec: dict, gc0, py4j_calls: int) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        gc1 = self._gc()
        c = {k: 0.0 for k in OP_COUNTS}
        c["driver.py4j_calls"] = py4j_calls
        c["jvm.gc_s"] = (gc1[0] - gc0[0]) / 1000.0
        c["jvm.gc_count"] = gc1[1] - gc0[1]

        # streaming micro-batches that started inside this op
        batches = [p for p in self._progress
                   if rec["start"] <= p["start"] <= rec["end"]]
        for p in batches:
            b = self._new_span("streaming.batch", start=p["start"],
                               run_id=p["run_id"], batch=p["batch"])
            b.update(end=p["end"], op=rec["id"],
                     parent=self._innermost(rec, p["start"])["id"])
            c["streaming.batches"] += 1
            c["streaming.input_rows"] += p["rows"]
            c["streaming.batch_ms"] += (p["end"] - p["start"]) * 1000.0
            c["streaming.add_batch_ms"] += p["add_batch_ms"]

        spans = [s for s in self.spans if s["op"] == rec["id"]]
        groups = [(f"perfbench-{s['id']}", s) for s in spans
                  if s["name"] != "streaming.batch"]
        groups += [(rid, rec) for rid in {p["run_id"] for p in batches}]
        stages_seen: set[int] = set()
        jobs = []
        for group, parent in groups:
            for jid in self.sc.statusTracker().getJobIdsForGroup(group):
                jobs.append(self._job_span(jid, rec, parent, stages_seen, c))
        if jobs:
            c["exec.job_wall_s"] = _union_s((j["start"], j["end"]) for j in jobs)
        for j in jobs:
            owner = self.spans[j["parent"]]["name"]
            if owner == "catalog.load_table":
                c["catalog.load_jobs"] += 1
            elif owner == "plans.build":
                c["plans.build_jobs"] += 1

        for s in spans:
            if s["name"] == "catalog.load_table":
                c["catalog.load_calls"] += 1
            if s["name"] == "sinks.write":
                c["sinks.written_mb"] += s.get("bytes", 0) / _MB
            for k in ("catalyst.analysis_ms", "catalyst.optimization_ms",
                      "catalyst.planning_ms"):
                c[k] += s.get(k, 0)
        for name, self_s in self_times(self.spans, rec["id"]).items():
            c[LAYER_METRIC[name]] += self_s
        self._ppjoin_calls += [(c, args) for args in rec.pop("ppjoin")]
        return c

    def recount_ppjoin(self) -> None:
        """Fill in the PPJoin counters of every op that called
        ``jaccard_near_dupes``, by running each call again with
        ``metrics=...``. Observations on the op's own plan would change that
        plan, and under the lazy localCheckpoint the shared pair cache uses
        they complete with 0 candidates and 0 verified pairs. Call it after
        the last pass, so the recounts warm nothing the passes measure."""
        with self.own():
            for c, args in self._ppjoin_calls:
                m: dict = {}
                self._jaccard(*args, metrics=m).count()
                for k in ("shingle_rows", "candidates", "verified"):
                    c[f"ppjoin.{k}"] += m[k].get["n"]
            self._ppjoin_calls = []

    def _innermost(self, rec: dict, t: float) -> dict:
        best = rec
        for s in self.spans:
            if (s["op"] == rec["id"] and s["name"] in LAYERS
                    and s["name"] != "streaming.batch"
                    and s["start"] <= t <= (s["end"] or t)
                    and s["start"] >= best["start"]):
                best = s
        return best

    def _job_span(self, jid: int, rec: dict, parent: dict,
                  stages_seen: set, c: dict) -> dict:
        jd = self.store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else rec["start"]
        end = done.get().getTime() / 1000.0 if done.isDefined() else rec["end"]
        span = self._new_span("spark.job", job_id=jid, start=start,
                              status=jd.status().toString())
        span.update(end=end, op=rec["id"], parent=parent["id"])
        c["exec.jobs"] += 1
        c["exec.tasks"] += jd.numCompletedTasks()
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in stages_seen:
                continue
            stages_seen.add(sid)
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            c["exec.stages"] += 1
            c["exec.executor_run_s"] += sd.executorRunTime() / 1000.0
            c["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["exec.input_mb"] += sd.inputBytes() / _MB
            c["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            c["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
        return span

    def dirs_left(self) -> int:
        return sum(os.path.exists(p) for p in self.dirs_created)


LAYER_METRIC = {
    "catalog.load_table": "catalog.load_s",
    "plans.build": "plans.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.collect": "exec.collect_s",
    "sinks.write": "sinks.write_s",
    "streaming.batch": "streaming.self_s",
    "op": "op.residual_s",
}

# per-op counters, summed per pass; cold and warm passes are reported apart
OP_COUNTS = (
    "catalog.load_calls", "catalog.load_s", "catalog.load_jobs",
    "plans.build_s", "plans.build_jobs",
    "catalyst.plan_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.collect_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.job_wall_s", "exec.executor_run_s", "exec.executor_cpu_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.input_mb",
    "exec.result_rows",
    "driver.py4j_calls", "jvm.gc_s", "jvm.gc_count",
    "ppjoin.shingle_rows", "ppjoin.candidates", "ppjoin.verified",
    "sinks.write_s", "sinks.written_mb",
    "streaming.batches", "streaming.input_rows", "streaming.batch_ms",
    "streaming.add_batch_ms", "streaming.self_s",
    "op.residual_s",
)


def self_times(spans: list[dict], op_id: int) -> dict[str, float]:
    """Layer name -> summed self time over the op's layer spans (and the
    op span itself, whose self time is the residual no layer covers)."""
    mine = [s for s in spans if s["op"] == op_id
            and (s["name"] in LAYERS or s["id"] == op_id)]
    children: dict[int, list] = {}
    for s in mine:
        if s["parent"] is not None and s["id"] != op_id:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in mine:
        clipped = [(max(k["start"], s["start"]), min(k["end"], s["end"]))
                   for k in children.get(s["id"], ())]
        covered = _union_s((a, b) for a, b in clipped if b > a)
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
