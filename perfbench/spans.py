"""Spans and counters recorded from outside the engine.

A :class:`Tracer` keeps spans (name, start, end, parent, op id) in
memory. When enabled it also wraps three seams, none of which is
engine code:

* the py4j client's ``send_command``: one count per driver→JVM round
  trip, attributed to the innermost open span;
* ``pyspark.sql.classic.dataframe.DataFrame.localCheckpoint`` (the
  class the session really hands out; wrapping ``pyspark.sql.DataFrame``
  counts nothing): every lineage cut becomes a ``lineage.cut`` child
  span, so its planning time leaves the enclosing span's self time;
* the ``ingest.stages.STAGES`` entries, via :meth:`wrapped`.

Spark job, stage and task counters come from the driver's status store
after an op, as one Jackson-serialized list each (a few py4j calls in
total). Jobs are assigned to an op by job-id range, not by list-size
deltas, and to a span by submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self.op_id: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "start": time.time(),
            "end": None,
            "py4j": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, owner.__dict__.get(attr, getattr(owner, attr))))
        setattr(owner, attr, new)

    # -- seams ---------------------------------------------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        from py4j.java_gateway import GatewayClient
        from pyspark.sql.classic.dataframe import DataFrame

        send = GatewayClient.send_command
        tracer = self

        def send_command(client, *a, **kw):
            with tracer._lock:
                if tracer._stack:
                    tracer._stack[-1]["py4j"] += 1
            return send(client, *a, **kw)

        self._patch(GatewayClient, "send_command", send_command)
        self._patch(DataFrame, "localCheckpoint", self.wrapped(DataFrame.localCheckpoint, "lineage.cut"))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, old = self._restore.pop()
            setattr(owner, attr, old)

    # -- reports -------------------------------------------------------------

    def self_times(self, op: str) -> dict[str, dict]:
        """Per span name over one op: self seconds (duration minus the
        part its children cover), inclusive seconds, calls, and py4j
        round trips made directly inside it."""
        spans = [s for s in self.spans if s["op"] == op]
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            agg = out.setdefault(s["name"], {"self_s": 0.0, "total_s": 0.0, "calls": 0, "py4j": 0})
            agg["self_s"] += dur - covered
            agg["total_s"] += dur
            agg["calls"] += 1
            agg["py4j"] += s["py4j"]
        return out

    def inclusive_py4j(self, op: str) -> dict[str, int]:
        """py4j round trips per span name including its descendants."""
        spans = [s for s in self.spans if s["op"] == op]
        incl = {s["id"]: s["py4j"] for s in spans}
        parent = {s["id"]: s["parent"] for s in spans}
        for sid in sorted(incl, reverse=True):  # children open after parents
            if parent[sid] in incl:
                incl[parent[sid]] += incl[sid]
        out: dict[str, int] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0) + incl[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union(intervals: list[tuple[float, float]]) -> float:
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


class SparkCounters:
    """Job/stage/task counters from the driver's ``AppStatusStore``,
    read as JSON through the JVM's own Jackson mapper."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = (
            jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$")
            .get(None)
        )
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._jvm = jvm

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        jlist = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
        return json.loads(self._mapper.writeValueAsString(jlist))

    def gc_s(self) -> float:
        """JVM garbage-collection time so far, over all collectors."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def heap_after_gc_mb(self) -> float:
        """JVM heap in use after a full collection: the live set, which
        still holds checkpointed blocks the ContextCleaner has not yet
        removed."""
        self._jvm.java.lang.System.gc()
        usage = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return usage.getHeapMemoryUsage().getUsed() / 2**20

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def since(self, job_id: int) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) of every job with id > ``job_id``."""
        jobs = [j for j in self.jobs() if j["jobId"] > job_id]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.stages() if s["stageId"] in ids]
        return jobs, stages


def spark_metrics(jobs: list[dict], stages: list[dict], wall: tuple[float, float]) -> dict:
    """Per-op Spark counters. ``spark.driver_s`` is the op wall minus
    the union of the op's job spans (submission to completion)."""
    spans = [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    lo, hi = wall
    spans = [(max(s, lo), min(e, hi)) for s, e in spans if e > lo and s < hi]
    ran = [s for s in stages if s.get("status") == "COMPLETE"]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in ran),
        "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in ran) / 1000.0,
        "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in ran) / 1e9,
        "spark.shuffle_read_bytes": sum(
            s.get("shuffleRemoteBytesRead", 0) + s.get("shuffleLocalBytesRead", 0) for s in ran
        ),
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran),
        "spark.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in ran
        ),
        "spark.driver_s": (hi - lo) - _union(spans),
    }
