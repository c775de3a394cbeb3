"""Per-layer ledger, measured from outside the engine.

Tracing touches no engine file. It

- wraps the public calls of each layer (`LAYER_CALLS`): the wrapper counts
  the call, times it, and sets a Spark job tag in the calling thread, so
  the jobs a call starts are attributed to it even when the engine runs
  several legs at once on worker threads;
- reads Spark's status store (jobs, stages, and the SQL plan metrics of
  the Python-runner nodes) once a pass has finished;
- listens to every streaming query through a `StreamingQueryListener`,
  including those started on cloned sessions.

`ops.text`, `ops.similarity` and `ops.dedup` return lazy DataFrames, so
wrapping them would time plan building only; their cost shows in the
`crossing.*` and `queries.*` counters instead.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import threading
import time
from collections import defaultdict

# (module, function, layer key). A call's jobs carry the tag "pb|<key>|<n>".
LAYER_CALLS = [
    ("e02_spark.io", "load_table", "io.load_table"),
    ("e02_spark.ops.graph", "connected_components", "ops.graph"),
    ("e02_spark.ops.graph", "connected_components_star", "ops.graph"),
    ("e02_spark.ops.graph", "pagerank_int", "ops.graph"),
    ("e02_spark.ops.snapshot", "_try_commit", "ops.snapshot.commit"),
    ("e02_spark.ops.snapshot", "snapshot_merge", "ops.snapshot.merge"),
    ("e02_spark.ops.export", "snapshot_export_delta", "ops.export"),
    ("e02_spark.ops.mv", "mv_refresh", "ops.mv.refresh"),
]

# Spark status-store retention, raised so one traced pass is never evicted.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

_MB = 2**20
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "recv",
    "time to run Python workers": "run",
    "time to start Python workers": "boot",
    "number of output rows": "rows",
}


class Ledger:
    """Layer counters for one process. `install()` before the first pass."""

    def __init__(self):
        self._lock = threading.Lock()
        self._seq = itertools.count()
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.tags: dict[str, set[str]] = defaultdict(set)
        self.streams = _StreamLog()

    # -- layer call wrappers -------------------------------------------------
    def install(self, spark) -> None:
        """Wrap every LAYER_CALLS function wherever the engine holds a
        reference to it (module attribute or a `from x import f` global),
        and listen to the streaming queries of this and every cloned
        session."""
        import importlib

        from pyspark.sql import SparkSession

        importlib.import_module("e02_spark.queries")
        originals = {}
        for mod_name, fn_name, key in LAYER_CALLS:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            originals[id(fn)] = self._wrap(fn, key)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("e02_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None:
                    setattr(mod, attr, wrapper)
        listener = self.streams.listener()
        spark.streams.addListener(listener)
        new_session = SparkSession.newSession

        @functools.wraps(new_session)
        def listened_new_session(session):
            clone = new_session(session)
            clone.streams.addListener(listener)
            return clone

        SparkSession.newSession = listened_new_session

    def _wrap(self, fn, key: str):
        from pyspark import SparkContext

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sc = SparkContext._active_spark_context
            tag = f"pb|{key}|{next(self._seq)}"
            if sc is not None:
                sc.addJobTag(tag)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                if sc is not None:
                    sc.removeJobTag(tag)
                with self._lock:
                    self.calls[key] += 1
                    self.seconds[key] += dt
                    self.tags[key].add(tag)

        return wrapper

    def reset(self) -> None:
        with self._lock:
            self.calls.clear()
            self.seconds.clear()
            self.tags.clear()
        self.streams.reset()

    # -- status store --------------------------------------------------------
    def pass_metrics(self, spark, entry_windows, exec_offset: int) -> dict[str, float]:
        """Counters of one pass. `entry_windows` holds each entry's
        (start, end) in epoch seconds; the pass's jobs and SQL executions
        are those submitted inside a window (executions are looked up from
        `exec_offset` on)."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        mapper = _json_mapper(jvm)
        store = jsc.statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )))
        stage_by_id = {(s["stageId"], s["attemptId"]): s for s in stages}
        stages_of: dict[int, list[dict]] = defaultdict(list)
        for (sid, _), s in stage_by_id.items():
            stages_of[sid].append(s)

        m: dict[str, float] = defaultdict(float)
        pass_jobs = []
        for t0, t1 in entry_windows:
            lo, hi = t0 * 1000, t1 * 1000
            mine = [j for j in jobs
                    if j.get("submissionTime") is not None
                    and lo <= j["submissionTime"] <= hi]
            pass_jobs.extend(mine)
            spans = sorted(
                (max(j["submissionTime"], lo), min(j.get("completionTime") or hi, hi))
                for j in mine
            )
            covered, cur_end = 0.0, lo
            for a, b in spans:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            m["queries.driver_gap_s"] += (hi - lo - covered) / 1000
            m["queries.job_busy_s"] += sum(
                ((j.get("completionTime") or hi) - j["submissionTime"]) / 1000 for j in mine
            )
        m["queries.jobs"] = len(pass_jobs)
        # A job lists the shuffle stages it reuses as well; count each
        # stage attempt once, and only if it ran inside the pass.
        lo, hi = entry_windows[0][0] * 1000, entry_windows[-1][1] * 1000
        run_stages = list({
            (s["stageId"], s["attemptId"]): s
            for j in pass_jobs for sid in j["stageIds"] for s in stages_of.get(sid, [])
            if s["status"] in ("COMPLETE", "FAILED")
            and lo <= (s.get("submissionTime") or 0) <= hi
        }.values())
        m["queries.stages"] = len(run_stages)
        m["queries.tasks"] = sum(s["numCompleteTasks"] for s in run_stages)
        m["queries.executor_cpu_s"] = sum(s["executorCpuTime"] for s in run_stages) / 1e9
        m["queries.executor_run_s"] = sum(s["executorRunTime"] for s in run_stages) / 1e3
        m["queries.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in run_stages) / _MB
        m["queries.shuffle_read_mb"] = sum(s["shuffleReadBytes"] for s in run_stages) / _MB
        m["queries.spill_mb"] = sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run_stages
        ) / _MB
        m["io.input_mb"] = sum(s["inputBytes"] for s in run_stages) / _MB

        tag_jobs: dict[str, int] = defaultdict(int)
        for j in pass_jobs:
            for tag in j.get("jobTags") or []:
                if tag.startswith("pb|"):
                    tag_jobs[tag] += 1
        jobs_of = {key: sum(tag_jobs[t] for t in tags) for key, tags in self.tags.items()}

        m["io.load_table.calls"] = self.calls["io.load_table"]
        m["ops.graph.calls"] = self.calls["ops.graph"]
        m["ops.graph.s"] = self.seconds["ops.graph"]
        m["ops.graph.jobs"] = jobs_of.get("ops.graph", 0)
        m["ops.snapshot.commit_calls"] = self.calls["ops.snapshot.commit"]
        m["ops.snapshot.commit_s"] = self.seconds["ops.snapshot.commit"]
        m["ops.snapshot.merge_calls"] = self.calls["ops.snapshot.merge"]
        m["ops.snapshot.merge_s"] = self.seconds["ops.snapshot.merge"]
        merges = self.calls["ops.snapshot.merge"]
        m["ops.snapshot.jobs_per_merge"] = (
            jobs_of.get("ops.snapshot.merge", 0) / merges if merges else 0.0
        )
        m["ops.export.s"] = self.seconds["ops.export"]
        m["ops.mv.refresh_s"] = self.seconds["ops.mv.refresh"]

        m.update(self._crossing(spark, exec_offset, entry_windows, stage_by_id))
        m.update(self.streams.metrics())
        return dict(m)

    def _crossing(self, spark, exec_offset: int, entry_windows, stage_by_id) -> dict[str, float]:
        """Totals of the Python-runner plan nodes (pandas/Arrow UDFs, Python
        data sources, applyInPandas...) over the pass's SQL executions."""
        sql = spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount() - exec_offset
        tot = defaultdict(float)
        max_task_run = 0.0
        py_stages = set()
        single_task_nodes = 0
        if n > 0:
            execs = sql.executionsList(exec_offset, n)
            for i in range(execs.size()):
                ex = execs.apply(i)
                t = ex.submissionTime() / 1000
                if not any(t0 <= t <= t1 for t0, t1 in entry_windows):
                    continue
                eid = ex.executionId()
                dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
                for node in _python_nodes(dot):
                    stages = {stage for _, _, stage in node.values() if stage is not None}
                    py_stages |= stages
                    single_task_nodes += not stages
                    for key, (total, task_max, _) in node.items():
                        tot[key] += total
                        if key == "run":
                            max_task_run += task_max
        tasks = single_task_nodes + sum(
            stage_by_id[s]["numCompleteTasks"] for s in py_stages if s in stage_by_id
        )
        return {
            "crossing.py_sent_mb": tot["sent"] / _MB,
            "crossing.py_recv_mb": tot["recv"] / _MB,
            "crossing.py_rows_out": tot["rows"],
            "crossing.py_run_s": tot["run"],
            "crossing.py_boot_s": tot["boot"],
            "crossing.tasks": tasks,
            "crossing.max_task_share": max_task_run / tot["run"] if tot["run"] else 0.0,
        }


def _json_mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = jvm.java.lang.Class.forName(
        "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
    ).getField("MODULE$").get(None)
    mapper.registerModule(scala_module)
    return mapper


_NODE = re.compile(r'label="<b>([^<]*)</b><br><br>(.*?)" tooltip=', re.S)
_VALUE = re.compile(r"^([\d,.]+)\s*([A-Za-z]*)")
_MAX_AT = re.compile(r",\s*([\d,.]+)\s*([A-Za-z]*)\s*\(stage (\d+)\.(\d+): task \d+\)\)\s*$")


def _number(text: str) -> tuple[float, str]:
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0, ""
    return float(m.group(1).replace(",", "")), m.group(2)


def _python_nodes(dot: str):
    """Yield {metric key: (total, max over tasks, (stage, attempt) or None
    when one task ran)} for each plan node in a Spark plan DOT dump that
    reports Python-worker metrics."""
    for m in _NODE.finditer(dot):
        body = m.group(2)
        if "Python workers" not in body:
            continue
        lines = body.split("<br>")
        node = {}
        i = 0
        while i < len(lines):
            line = lines[i]
            if " total (min, med, max" in line and i + 1 < len(lines):
                name, value_line = line.split(" total (", 1)[0], lines[i + 1]
                i += 2
            elif ": " in line:
                name, value_line = line.split(": ", 1)
                i += 1
            else:
                i += 1
                continue
            key = _PY_METRICS.get(name.strip())
            if key is None:
                continue
            value, unit = _number(value_line)
            total = value * _UNITS.get(unit, 1.0)
            # Spark prints the per-task breakdown only when several tasks
            # ran; a bare value is one task's.
            task_max, stage = total, None
            mx = _MAX_AT.search(value_line)
            if mx:
                task_max = float(mx.group(1).replace(",", "")) * _UNITS.get(mx.group(2), 1.0)
                stage = (int(mx.group(3)), int(mx.group(4)))
            node[key] = (total, task_max, stage)
        yield node


class _StreamLog:
    """Streaming query lifecycle and micro-batch timings, from listener
    events. Times are taken when the event reaches this process."""

    def __init__(self):
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.started: dict[str, float] = {}
            self.ended: dict[str, float] = {}
            self.batches = 0
            self.trigger_ms: dict[str, float] = defaultdict(float)
            self.wal_ms = 0.0

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log._lock:
                    log.started[str(event.runId)] = time.time()

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                with log._lock:
                    log.batches += 1
                    log.trigger_ms[str(p.runId)] += d.get("triggerExecution", 0)
                    log.wal_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)

            def onQueryTerminated(self, event):
                with log._lock:
                    log.ended[str(event.runId)] = time.time()

        return Listener()

    def metrics(self) -> dict[str, float]:
        with self._lock:
            life = sum(
                self.ended[r] - t0 - self.trigger_ms.get(r, 0.0) / 1000
                for r, t0 in self.started.items() if r in self.ended
            )
            return {
                "streaming.queries": len(self.started),
                "streaming.batches": self.batches,
                "streaming.trigger_s": sum(self.trigger_ms.values()) / 1000,
                "streaming.wal_commit_s": self.wal_ms / 1000,
                "streaming.lifecycle_s": life,
            }
