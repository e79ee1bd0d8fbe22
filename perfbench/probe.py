"""Readers for process, stage, SQL-metric and Catalyst figures.

Everything is read without the Spark UI or its REST API:

- process CPU time and JVM peak RSS come from ``/proc``;
- job and stage figures come from the JVM ``AppStatusStore``, read after
  the listener bus is drained;
- operator figures come from the SQL status store: the plan graph of each
  SQL execution (the final plan, under AQE) and its metric values;
- Catalyst phase times come from ``QueryExecution.tracker()`` of each
  execution, reported by a ``QueryExecutionListener``.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1e6


# --- /proc -----------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # process ended between listing and reading
        return None
    # the command name (field 2) may contain spaces; it ends at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


class ProcessTree:
    """CPU time of this Python process, the Spark JVM and every process
    the JVM started (the Python workers), and the JVM's peak RSS."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and (st := _stat(int(entry))) is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
        pids, todo = [os.getpid()], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(children.get(pid, []))
        return pids

    def cpu_s(self) -> float:
        """User + system time, including children already waited for."""
        ticks = 0
        for pid in self._pids():
            if (st := _stat(pid)) is not None:
                ticks += sum(int(x) for x in st[11:15])
        return ticks / CLK_TCK

    def jvm_peak_rss_mb(self) -> float:
        for line in Path(f"/proc/{self.jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
        raise RuntimeError("VmHWM missing from /proc status")


def steal_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole machine, in clock ticks: the
    time a hypervisor gave this machine's CPUs to someone else."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


# --- tracing ---------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent span and operation id.

    With ``enabled=False`` every call is a no-op, so the untraced timing
    path runs the same code.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self._t0


# --- Spark status stores -----------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_total(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count (``7,990``), a size (``64.2 MiB``) or a time (``20 ms``), or the
    same preceded by a ``total (min, med, max ...)`` line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    return value * _TIME_UNITS.get(unit, 1.0)


STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)
PLAN_FIELDS = (
    "tokens_out",
    "normalize_rows",
    "partial_agg_in",
    "partial_agg_out",
    "agg_peak_mb",
    "exchanges",
    "broadcasts",
)


class StatusReader:
    """Deltas of jobs, stages and SQL executions since a mark.

    Whole lists cross from the JVM as one JSON string each (Spark's own
    Jackson mapper), not as one py4j call per field.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.app = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._list = jvm.java.util.ArrayList
        self._quantiles = getattr(self.app, "stageData$default$5")()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        self.jsc.listenerBus().waitUntilEmpty()
        return self._json(self.app.jobsList(self._list()))

    def mark(self) -> dict:
        """Highest job, stage and SQL execution ids seen so far."""
        jobs = self._jobs()
        execs = self.sql.executionsList()
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((i for j in jobs for i in j["stageIds"]), default=-1),
            "exec": execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        }

    def jobs_since(self, mark: dict, group: str) -> int:
        """Jobs of job group ``group`` started since ``mark``."""
        return sum(1 for j in self._jobs() if j["jobId"] > mark["job"] and j["jobGroup"] == group)

    def stages_since(self, mark: dict) -> dict:
        """Sums over the stage attempts that ran (not skipped) in the jobs
        started since ``mark``."""
        out = dict.fromkeys(("jobs", "count", *STAGE_FIELDS), 0.0)
        jobs = [j for j in self._jobs() if j["jobId"] > mark["job"]]
        out["jobs"] = len(jobs)
        ids = {i for j in jobs for i in j["stageIds"] if i > mark["stage"]}
        for sid in sorted(ids):
            attempts = self._json(
                self.app.stageData(sid, False, self._list(), False, self._quantiles)
            )
            for s in attempts:
                if s["status"] == "SKIPPED":
                    continue
                out["count"] += 1
                out["tasks"] += s["numTasks"]
                out["executor_run_s"] += s["executorRunTime"] / 1e3
                out["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                out["gc_s"] += s["jvmGcTime"] / 1e3
                out["input_mb"] += s["inputBytes"] / MB
                out["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                out["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                out["spill_mb"] += s["diskBytesSpilled"] / MB
        return out

    def plans_since(self, mark: dict) -> dict:
        """Operator figures summed over the final plans of the SQL
        executions since ``mark``."""
        out = dict.fromkeys(PLAN_FIELDS, 0.0)
        execs = self.sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= mark["exec"]:
                break
            values = self._json(self.sql.executionMetrics(eid))
            graph = self._json(self.sql.planGraph(eid))
            nodes = {}

            def add(node):
                metrics = {
                    m["name"]: metric_total(values.get(str(m["accumulatorId"]), "0"))
                    for m in node["metrics"]
                }
                nodes[node["id"]] = (node["name"], node["desc"], metrics)
                for sub in node.get("nodes", ()):
                    add(sub)

            for node in graph["nodes"]:
                add(node)
            child = {e["toId"]: e["fromId"] for e in graph["edges"]}
            _add_plan(out, nodes, child)
        return out

    def cached(self) -> tuple[int, float]:
        """(cached RDDs, their memory + disk MB) right now."""
        infos = [i for i in self.jsc.getRDDStorageInfo() if i.isCached()]
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def _rows_into(node_id, nodes, child) -> float:
    """Rows a single-input node receives: output rows of the nearest
    descendant that reports them (codegen'd projections report none)."""
    cur = child.get(node_id)
    while cur is not None:
        rows = nodes[cur][2].get("number of output rows")
        if rows is not None:
            return rows
        cur = child.get(cur)
    return 0.0


def _add_plan(out: dict, nodes: dict, child: dict) -> None:
    for nid, (name, desc, metrics) in nodes.items():
        if name == "Generate":
            out["tokens_out"] += metrics.get("number of output rows", 0.0)
        if "regexp_replace" in desc and name in ("Filter", "Project", "HashAggregate"):
            out["normalize_rows"] += _rows_into(nid, nodes, child)
        if name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
            out["agg_peak_mb"] += metrics.get("peak memory", 0.0) / MB
            if "partial_" in desc:
                out["partial_agg_in"] += _rows_into(nid, nodes, child)
                out["partial_agg_out"] += metrics.get("number of output rows", 0.0)
        if name == "Exchange":
            out["exchanges"] += 1
        if name == "BroadcastExchange":
            out["broadcasts"] += 1


PHASES = ("analysis", "optimization", "planning")


class CatalystListener:
    """Analysis, optimization and planning seconds of every query execution
    that ran, from the ``QueryExecution`` each one actually executed: a JVM
    ``QueryExecutionListener`` implemented here through the py4j callback
    server. Spark calls it on its listener bus, so the figures are complete
    once the bus is drained (``StatusReader`` drains it before each read).
    """

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._done: list[dict] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = dict(self._to_java(qe.tracker().phases()))
        self._done.append({k: phases[k].durationMs() / 1e3 if k in phases else 0.0
                           for k in PHASES})

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    def take(self) -> dict:
        """Phase seconds summed over the executions reported since the last
        call, as ``{"analysis_s": ..., ...}``."""
        done, self._done = self._done, []
        return {f"{k}_s": sum(d[k] for d in done) for k in PHASES}

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def analysis_s(df) -> float:
    """Analysis seconds of the frame a query returned. Spark analyzes a
    frame when it is built; the write that executes it reuses that plan, so
    this time is missing from the write's own ``QueryExecution``."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases())
    return phases["analysis"].durationMs() / 1e3 if "analysis" in phases else 0.0
