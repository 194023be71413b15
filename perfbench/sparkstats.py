"""Spark's own metrics, read from outside the package.

After an action, the SQL status store holds each execution's physical
plan graph with its per-operator SQL metrics, and the app status store
holds each job's stages with their task metrics. Both are read through
the session's JVM handles; nothing in the package is touched.

SQL metric values arrive as display strings (``"1,234"``,
``"12.3 MiB"``, ``"total (min, med, max ...)\\n1.2 s (...)"``); they
are parsed back into bytes, seconds and counts, so sizes and times
carry the display's rounding (three significant digits).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
JOIN_NODES = (
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_SEP = "\x01"


def parse_metric(text: str, kind: str) -> float | None:
    """A SQL metric display string -> number in bytes, seconds or units."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    try:
        if kind in ("size", "timing", "nsTiming"):
            num, unit = head.split()
            scale = _SIZE[unit] if kind == "size" else _TIME[unit]
            return float(num.replace(",", "")) * scale
        return float(head.replace(",", ""))
    except (KeyError, ValueError):
        return None


@dataclass
class Harvest:
    """Everything Spark recorded for the actions between two marks."""

    # (operator class, metric name) -> summed value
    ops: Counter = field(default_factory=Counter)
    # largest number of ArrowEvalPython nodes in one executed plan
    eval_nodes_max: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    scan_tasks: int = 0
    gc_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def op(self, cls: str | tuple[str, ...], metric: str) -> float:
        classes = (cls,) if isinstance(cls, str) else cls
        return sum(v for (c, m), v in self.ops.items() if c in classes and m == metric)

    def __iadd__(self, other: "Harvest") -> "Harvest":
        self.ops.update(other.ops)
        self.eval_nodes_max = max(self.eval_nodes_max, other.eval_nodes_max)
        for name in (
            "jobs", "stages", "tasks", "scan_tasks", "gc_s",
            "executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        return self


def _op_class(node_name: str) -> str:
    name = node_name.strip()
    if name.startswith("Scan "):
        return "Scan"
    if name.startswith("WholeStageCodegen"):
        return "WholeStageCodegen"
    return name.split(" ")[0] if not name.startswith("Execute ") else name


class StatusReader:
    """Reads the SQL and app status stores of one SparkSession."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def mark(self) -> tuple[int, int]:
        """(last execution id, last job id) seen so far. Execution ids
        count up from 0; jobs are listed newest first."""
        self._bus.waitUntilEmpty()
        jobs = self._app.jobsList(None)
        return self._sql.executionsCount() - 1, jobs.head().jobId() if jobs.nonEmpty() else -1

    def since(self, mark: tuple[int, int]) -> Harvest:
        """Fold every execution and job after ``mark`` into one Harvest."""
        self._bus.waitUntilEmpty()
        h = Harvest()
        for e in self._list(self._sql.executionsList(mark[0] + 1, 1 << 30)):
            eid = e.executionId()
            # one py4j call per map or metric list: "id -> text" entries
            values = dict(
                kv.split(" -> ", 1)
                for kv in self._sql.executionMetrics(eid).mkString(_SEP).split(_SEP) if kv
            )
            per_plan = Counter()
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                cls = _op_class(node.name())
                per_plan[cls] += 1
                # entries read "SQLPlanMetric(<name>,<accumulator id>,<type>)"
                for m in node.metrics().mkString(_SEP).split(_SEP):
                    if not m:
                        continue
                    name, acc, kind = m[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                    text = values.get(acc)
                    v = parse_metric(text, kind) if text is not None else None
                    if v is not None:
                        h.ops[(cls, name)] += v
            h.eval_nodes_max = max(h.eval_nodes_max, per_plan["ArrowEvalPython"])
        stage_ids = set()
        for j in self._conv.asJava(self._app.jobsList(None)):
            if j.jobId() <= mark[1]:
                break
            h.jobs += 1
            stage_ids.update(int(s) for s in self._list(j.stageIds()))
        for sid in stage_ids:
            try:
                st = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            h.stages += 1
            h.tasks += st.numCompleteTasks()
            if st.inputRecords() > 0:
                h.scan_tasks += st.numCompleteTasks()
            h.gc_s += st.jvmGcTime() / 1e3
            h.executor_run_s += st.executorRunTime() / 1e3
            h.executor_cpu_s += st.executorCpuTime() / 1e9
            h.shuffle_write_bytes += st.shuffleWriteBytes()
            h.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return h

    def cached_bytes(self) -> int:
        """Memory plus disk held by persisted RDDs right now."""
        return sum(r.memoryUsed() + r.diskUsed() for r in self._list(self._app.rddList(True)))


def python_udf_layers(h: Harvest) -> dict:
    """The Python-UDF boundary (``functions.parse``) from the
    ArrowEvalPython operators of ``h``."""
    def py(metric: str) -> float:
        return h.op("ArrowEvalPython", metric)

    return {
        "parse.rows_to_python": py("number of output rows"),
        "parse.bytes_to_python": py("data sent to Python workers"),
        "parse.python_exec_s": py("time to run Python workers"),
        "parse.python_init_s": py("time to start Python workers")
        + py("time to initialize Python workers"),
    }
