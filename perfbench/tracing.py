"""Traced runs: spans from the benchmark's own calls into each layer,
plus what Spark reports about the same calls.

Sources, all read from outside the program:

- ``Tracer`` records spans (name, start, end, parent, trace id of the
  form ``workload/pass/op``) around the benchmark's calls and around
  package functions, wrapped where their callers look them up.
- ``EventLog`` attaches Spark's own event-log listener (uncompressed
  JSON lines) for the traced passes only, then folds job, stage,
  task and SQL-metric events per job group.
- ``ProgressListener`` collects each streaming query's progress.
- ``storage`` and ``rss_peak_mb`` read Spark's storage status and
  ``/proc``.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PKG = "flink_1_11_2_with_comments_spark"


def _wrapped(tracer: "Tracer", fn, name: str):
    """``fn`` recording a span per call. ``functools.wraps`` keeps its
    module and name, so cloudpickle ships it to Python workers by
    reference, where it resolves to the unwrapped original."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call


class _Span:
    def __init__(self, tracer: "Tracer", name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            self.idx = None
            return self
        self.idx = len(t.spans)
        parent = t.stack[-1] if t.stack else None
        t.spans.append({"name": self.name, "start": time.time(), "end": None,
                        "parent": parent, "trace": t.trace_id})
        t.stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer.stack.pop()
            self.tracer.spans[self.idx]["end"] = time.time()
        return False


class Tracer:
    """In-memory spans; ``enabled`` is off outside traced passes."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.trace_id = ""
        self.enabled = False
        self._installed: list[tuple] = []

    def span(self, name: str) -> _Span:
        return _Span(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None,
            trace: str) -> None:
        """A span measured elsewhere (a Spark job, a micro-batch)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace})

    def wrap(self, module_name: str, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` in every loaded package module that
        holds the same function object."""
        target = getattr(importlib.import_module(module_name), attr)
        wrapper = _wrapped(self, target, span_name)
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PKG) or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is target:
                    setattr(mod, key, wrapper)
                    self._installed.append((mod, key, target))

    def wrap_public(self, module_name: str, layer: str) -> None:
        mod = importlib.import_module(module_name)
        for key, val in list(vars(mod).items()):
            if (inspect.isfunction(val) and not key.startswith("_")
                    and val.__module__ == module_name):
                self.wrap(module_name, key, f"{layer}.{key}")

    def uninstall(self) -> None:
        for mod, key, target in reversed(self._installed):
            setattr(mod, key, target)
        self._installed.clear()

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                out[s["parent"]].append(i)
        return out

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children."""
        kids = self.children()
        out = []
        for i, s in enumerate(self.spans):
            iv = sorted((self.spans[k]["start"], self.spans[k]["end"])
                        for k in kids.get(i, ()))
            out.append(max(0.0, (s["end"] - s["start"])
                           - union_length(iv, s["start"], s["end"])))
        return out

    def dump(self, path: str, derived: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "per_layer": derived}, f)


def union_length(intervals, lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install_layers(tracer: Tracer) -> None:
    """Wrap the package's layer entry points (see BENCHMARK.json)."""
    tracer.wrap(f"{PKG}.catalog", "load_table", "catalog.load_table")
    tracer.wrap(f"{PKG}.plans.flink_sql", "translate_flink_sql", "plans.translate")
    tracer.wrap(f"{PKG}.plans.flink_sql", "event_time_temporal_join",
                "plans.translate")
    tracer.wrap(f"{PKG}.plans.match_recognize", "match_recognize",
                "plans.translate")
    tracer.wrap_public(f"{PKG}.operators.graph", "operators")
    tracer.wrap(f"{PKG}.operators.graph", "_superstep", "operators.superstep")
    for path in sorted(glob.glob(os.path.join(
            os.path.dirname(importlib.import_module(f"{PKG}.pipeline").__file__),
            "[a-z]*.py"))):
        tracer.wrap_public(f"{PKG}.pipeline.{os.path.basename(path)[:-3]}",
                           "pipeline")
    tracer.wrap(f"{PKG}.sources.replay", "replay_as_stream", "sources.stage")
    tracer.wrap(f"{PKG}.streaming.count_window", "keyed_process",
                "streaming.keyed_process")
    for mod, fn in (("count_window", "count_tumbling_window"),
                    ("windows", "tumble")):
        tracer.wrap(f"{PKG}.streaming.{mod}", fn, f"streaming.{fn}")


# ---------------------------------------------------------------- Spark

_PY_NODES = ("Python", "Pandas", "Arrow")


class EventLog:
    """Spark's EventLoggingListener, attached for the traced passes."""

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")  # read without zstandard
        conf.set("spark.eventLog.rolling.enabled", "false")
        self.app_id = jsc.applicationId()
        self.path = os.path.join(log_dir, self.app_id)
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.app_id, jvm.scala.Option.empty(),
            jvm.java.io.File(log_dir).toURI(), conf, jsc.hadoopConfiguration())
        self.listener.start()
        jsc.addSparkListener(self.listener)

    def close(self) -> list[dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self.listener)
        self.listener.stop()
        with open(self.path) as f:
            return [json.loads(line) for line in f]


def fold_events(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and their metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group, job_iv, stage_group = {}, {}, {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    py_accums, exec_group = {}, {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            job_group[ev["Job ID"]] = g
            job_iv[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
            for st in ev["Stage Infos"]:
                stage_group[st["Stage ID"]] = g
            groups[g]["jobs"] += 1
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_iv:
            job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                groups[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            acc = groups[g]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["failed_tasks"] += bool(info.get("Failed"))
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                       + rd.get("Local Bytes Read", 0)) / 2**20
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
            acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / 2**20
            stage_tasks[ev["Stage ID"]].append(
                info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", ()):
                key = py_accums.get(a["ID"])
                if key is not None and exec_group.get(key[0]) is not None:
                    groups[exec_group[key[0]]][key[1]] += float(a.get("Update", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _python_metrics(ev["sparkPlanInfo"], ev["executionId"], py_accums)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_metrics(ev["sparkPlanInfo"], ev["executionId"], py_accums)
    for stage, durs in stage_tasks.items():
        g = stage_group[stage]
        if len(durs) > 1 and statistics.mean(durs) > 0:
            skew = max(durs) / statistics.mean(durs)
            groups[g]["task_skew"] = max(groups[g]["task_skew"], skew)
    for job, (s, e) in job_iv.items():
        groups[job_group[job]].setdefault("_jobs_iv", []).append(
            (s, e if e is not None else s))
    return groups


def _python_metrics(node: dict, execution_id: int, out: dict) -> None:
    """Map accumulator ids of Spark's Python exec nodes to metric keys."""
    if any(k in node.get("nodeName", "") for k in _PY_NODES):
        for m in node.get("metrics", ()):
            name = m["name"]
            if name == "number of output rows":
                out[m["accumulatorId"]] = (execution_id, "python_rows")
            elif name.startswith("data sent to Python") or \
                    name.startswith("data returned from Python"):
                out[m["accumulatorId"]] = (execution_id, "python_bytes")
            elif name == "time to run Python workers":
                out[m["accumulatorId"]] = (execution_id, "python_ms")
    for child in node.get("children", ()):
        _python_metrics(child, execution_id, out)


def storage(spark) -> tuple[int, float]:
    """Persisted RDDs left behind, and their memory plus disk size."""
    jsc = spark.sparkContext._jsc.sc()
    n = jsc.getPersistentRDDs().size()
    mb = sum((i.memSize() + i.diskSize()) / 2**20
             for i in jsc.getRDDStorageInfo())
    return n, mb


def release(spark) -> None:
    """Drop every cache and checkpoint, as bench.py does between queries."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def rss_peak_mb(spark) -> float:
    """Peak resident memory of the driver JVM and every process under it
    (the Python workers), from ``VmHWM``."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total, todo, seen = 0.0, [pid], set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
            for kids in glob.glob(f"/proc/{p}/task/*/children"):
                with open(kids) as f:
                    todo.extend(int(x) for x in f.read().split())
        except OSError:  # the process ended while being read
            continue
    return total


# ------------------------------------------------------------ streaming

class ProgressListener(StreamingQueryListener):
    """Every progress event per query name, and which queries ended."""

    def __init__(self):
        self.names: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        self.names[str(event.id)] = event.name

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.progress[p["name"]].append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(self.names.get(str(event.id), str(event.id)))

    def finished(self, name: str, timeout_s: float = 30.0) -> list[dict]:
        """The query's progress events, once its termination event has
        arrived (listener events are asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while name not in self.terminated:
            if time.monotonic() > deadline:
                raise TimeoutError(f"no termination event for {name}")
            time.sleep(0.01)
        return self.progress.pop(name, [])
