"""Traced-run instruments, all recorded from outside the library.

- :class:`Tracer` keeps spans (name, start, end, parent, request id) in
  memory; a layer's self time is its span minus what its children cover.
- :class:`SparkReader` reads what Spark itself recorded for the jobs and SQL
  executions started since the last read: the live AppStatusStore (jobs,
  stages, executor metrics), the SQL status store (Python-worker and scan
  metrics) and QueryPlanningTracker phases delivered to a
  QueryExecutionListener. Reads assume one op at a time, which the traced
  run guarantees.
- :class:`Py4jCounter` counts driver round trips by wrapping the gateway
  client's ``send_command``.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid=None, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "rid": rid if rid is not None or not self._stack
               else self.spans[self._stack[-1]]["rid"], **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int) -> dict:
        """A child span whose interval was measured elsewhere (for instance
        by the server's own phase timers)."""
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent,
               "rid": self.spans[parent]["rid"]}
        self.spans.append(rec)
        return rec

    def children(self, i: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == i]

    def self_time(self, i: int) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[i]
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in self.children(i))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def layer_self_times(self, root: int) -> dict:
        """Self time per span name over the subtree under ``root``
        (the root's own self time is the unattributed remainder)."""
        out: dict = {}
        todo = [root]
        while todo:
            i = todo.pop()
            out[self.spans[i]["name"]] = (out.get(self.spans[i]["name"], 0.0)
                                          + self.self_time(i))
            todo.extend(j for j, s in enumerate(self.spans) if s["parent"] == i)
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in self.spans]


class Py4jCounter:
    """Counts and times py4j commands sent from the benchmark's thread."""

    def __init__(self, sc):
        self.client = sc._gateway._gateway_client
        self.orig = self.client.send_command
        self.thread = threading.get_ident()
        self.calls = 0
        self.seconds = 0.0
        self.active = False

        def send_command(*args, **kwargs):
            if not self.active or threading.get_ident() != self.thread:
                return self.orig(*args, **kwargs)
            t = time.perf_counter()
            try:
                return self.orig(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t

        self.client.send_command = send_command

    @contextmanager
    def counting(self):
        self.active = True
        try:
            yield
        finally:
            self.active = False

    def snapshot(self) -> tuple[int, float]:
        return self.calls, self.seconds


_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("12.3 KiB", "1.2 s", "4,096", or the
    'total (min, med, max ...)' block) as bytes, milliseconds or a count."""
    lines = text.strip().split("\n")
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class _PlanningListener:
    """QueryExecutionListener (a py4j callback): collects each finished
    query's QueryPlanningTracker phase durations."""

    def __init__(self):
        self.lock = threading.Lock()
        self.phases: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        it = qe.tracker().phases().iterator()
        got = {}
        while it.hasNext():
            kv = it.next()
            got[kv._1()] = float(kv._2().durationMs())
        with self.lock:
            self.phases.append(got)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


#: SQL metric names of the Arrow/pandas evaluation nodes
PY_TIME = "time to run Python workers"
PY_OUT = "data sent to Python workers"
PY_IN = "data returned from Python workers"


class SparkReader:
    """Per-op reads of Spark's own accounting. ``begin()`` before an op,
    ``end()`` after it returns the op's Spark-side figures. Job and SQL
    execution ids are dense, so each op reads the ids past the previous
    op's (within the stores' default retention of 1,000 of each)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.listener = _PlanningListener()
        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self.listener)
        self.next_job = self._count_jobs()
        self.next_exec = self._count_execs()
        self.seen_phases = 0

    def close(self) -> None:
        # a registered py4j callback listener blocks SparkContext.stop()
        self.spark._jsparkSession.listenerManager().clear()

    def _count_jobs(self) -> int:
        """Job ids are dense from 0: the first id with no record."""
        from py4j.protocol import Py4JJavaError

        n = getattr(self, "next_job", 0)
        while True:
            try:
                self.store.job(n)
            except Py4JJavaError:
                return n
            n += 1

    def _count_execs(self) -> int:
        return int(self.sql.executionsCount())

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        """Figures for every job and SQL execution since the last call."""
        self.sc.setJobGroup(None, None)
        # planning phases arrive on the listener bus after the action returns
        deadline = time.perf_counter() + 0.5
        n_exec = self._count_execs()
        while time.perf_counter() < deadline:
            with self.listener.lock:
                have = len(self.listener.phases) - self.seen_phases
            if have >= n_exec - self.next_exec:
                break
            time.sleep(0.005)
        time.sleep(0.01)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "job_intervals": [],
               "run_ms": 0.0, "cpu_ms": 0.0, "input_bytes": 0.0,
               "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
               "spill_bytes": 0.0, "py_ms": 0.0, "py_out": 0.0, "py_in": 0.0,
               "scan_rows": 0.0, "analysis_ms": 0.0, "optimization_ms": 0.0,
               "planning_ms": 0.0}
        n_jobs = self._count_jobs()
        for jid in range(self.next_job, n_jobs):
            self._read_job(jid, out)
        self.next_job = n_jobs
        for eid in range(self.next_exec, n_exec):
            self._read_exec(eid, out)
        self.next_exec = n_exec
        with self.listener.lock:
            new = self.listener.phases[self.seen_phases:]
            self.seen_phases = len(self.listener.phases)
        for ph in new:
            for k in ("analysis", "optimization", "planning"):
                out[f"{k}_ms"] += ph.get(k, 0.0)
        return out

    def _read_job(self, jid: int, out: dict) -> None:
        jd = self.store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            out["job_intervals"].append((sub.get().getTime(), comp.get().getTime()))
        out["jobs"] += 1
        sids = jd.stageIds()
        for i in range(sids.size()):
            st = self.store.lastStageAttempt(sids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def _read_exec(self, eid: int, out: dict) -> None:
        values = {}
        it = self.sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        graph = self.sql.planGraph(eid)
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            is_scan = node.name().startswith("Scan")
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                name = m.name()
                if name not in (PY_TIME, PY_OUT, PY_IN) and not (
                        is_scan and name == "number of output rows"):
                    continue
                v = values.get(m.accumulatorId())
                if v is None:
                    continue
                x = parse_metric(v)
                if name == PY_TIME:
                    out["py_ms"] += x
                elif name == PY_OUT:
                    out["py_out"] += x
                elif name == PY_IN:
                    out["py_in"] += x
                else:
                    out["scan_rows"] += x


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def vm_hwm_mb(pid="self") -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


class OpTracer:
    """Traced ops for one run: each op is a root span with its own job
    group; Spark jobs become ``spark.job`` child spans of the deepest span
    that covers them, and the op's Spark-side figures are stored on it."""

    def __init__(self, spark):
        self.tracer = Tracer()
        self.reader = SparkReader(spark)
        self.py4j = Py4jCounter(spark.sparkContext)
        # epoch milliseconds (Spark's job clock) -> perf_counter seconds
        self.epoch_offset = time.time() - time.perf_counter()
        self.roots: list[int] = []

    def close(self) -> None:
        self.reader.close()

    @contextmanager
    def op(self, name: str, rid):
        self.reader.begin(f"perfbench {name} {rid}")
        calls, secs = self.py4j.snapshot()
        root = len(self.tracer.spans)
        self.roots.append(root)
        try:
            with self.tracer.span(name, rid) as rec, self.py4j.counting():
                yield rec
        finally:
            # Spark's reads happen after the op's span has closed, so they
            # cost the run time but not the op's measured wall
            figures = self.reader.end()
            c2, s2 = self.py4j.snapshot()
            rec = self.tracer.spans[root]
            rec.update(figures, py4j_calls=c2 - calls,
                       py4j_ms=(s2 - secs) * 1000.0)
        rec["pending_jobs"] = [
            (a / 1000.0 - self.epoch_offset, b / 1000.0 - self.epoch_offset)
            for a, b in figures["job_intervals"]]

    def _attach_jobs(self) -> None:
        """Jobs become spans once every op's children are in place."""
        for root in self.roots:
            rec = self.tracer.spans[root]
            for a, b in rec.pop("pending_jobs", []):
                start, end = max(a, rec["start"]), min(b, rec["end"])
                if end > start:
                    self._attach_job(root, start, end)

    def _attach_job(self, root: int, start: float, end: float) -> None:
        spans = self.tracer.spans
        mid, parent = (start + end) / 2.0, root
        while True:
            inner = [j for j, s in enumerate(spans)
                     if s["parent"] == parent and s["name"] != "spark.job"
                     and s["start"] <= mid <= s["end"]]
            if not inner:
                break
            parent = inner[0]
        p = spans[parent]
        self.tracer.add("spark.job", max(start, p["start"]), min(end, p["end"]),
                        parent)

    def summary(self, containers=()) -> dict:
        """Per-op means over the traced ops: layer self times (ms), Spark
        figures, and the unattributed time — the self time of each op's root
        and of the ``containers`` spans, which no named layer claims."""
        self._attach_jobs()
        roots = self.roots
        out = {"ops": len(roots), "wall_ms": 0.0, "self_ms": {}, "unattributed_ms": 0.0}
        keys = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "py_ms", "py_out", "py_in", "scan_rows", "analysis_ms",
                "optimization_ms", "planning_ms", "py4j_calls", "py4j_ms")
        for k in keys:
            out[k] = 0.0
        out["job_ms"] = 0.0
        for r in roots:
            s = self.tracer.spans[r]
            out["wall_ms"] += (s["end"] - s["start"]) * 1000.0
            for name, sec in self.tracer.layer_self_times(r).items():
                out["self_ms"][name] = out["self_ms"].get(name, 0.0) + sec * 1000.0
                if name == s["name"] or name in containers:
                    out["unattributed_ms"] += sec * 1000.0
            for k in keys:
                out[k] += s.get(k, 0.0)
            out["job_ms"] += union_ms(s.get("job_intervals", []))
        n = max(1, len(roots))
        for k in (*keys, "job_ms", "wall_ms", "unattributed_ms"):
            out[k] /= n
        out["self_ms"] = {k: v / n for k, v in out["self_ms"].items()}
        return out


def layer_metrics(s: dict) -> dict:
    """Per-op Spark, executor, Python-boundary and driver figures from an
    OpTracer summary."""
    return {
        "driver.py4j_calls": s["py4j_calls"], "driver.py4j_ms": s["py4j_ms"],
        "catalyst.analysis_ms": s["analysis_ms"],
        "catalyst.optimization_ms": s["optimization_ms"],
        "catalyst.planning_ms": s["planning_ms"],
        "spark.jobs": s["jobs"], "spark.stages": s["stages"], "spark.tasks": s["tasks"],
        "spark.job_ms": s["job_ms"], "spark.gap_ms": s["wall_ms"] - s["job_ms"],
        "exec.run_ms": s["run_ms"], "exec.cpu_ms": s["cpu_ms"],
        "exec.input_bytes": s["input_bytes"],
        "exec.shuffle_read_bytes": s["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": s["shuffle_write_bytes"],
        "exec.spill_bytes": s["spill_bytes"],
        "python.udf_ms": s["py_ms"], "python.bytes_out": s["py_out"],
        "python.bytes_in": s["py_in"],
        "trace.unattributed_frac": s["unattributed_ms"] / s["wall_ms"] if s["wall_ms"] else 0.0,
    }
