"""Per-layer numbers from Spark's SQL status store.

Spark records every SQL execution's physical plan and its SQL metrics
in the status store whether or not the UI is enabled. After a traced
call returns, ``StoreReader.new_executions`` reads the executions the
call started (CLI writes and eager driver jobs included) and
``layer_metrics`` folds their plan nodes into the per-layer names of
BENCHMARK.json. Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import inspect
import re
import time
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_value(text: str | None) -> float | None:
    """A formatted SQL metric value in base units: bytes for sizes
    (``197.4 MiB``), seconds for timings (``2.7 s``, ``17 ms``), a plain
    number for counts (``600,000``). Per-task statistics
    (``total (min, med, max (stageId: taskId))\\n3.1 s (713 ms, ...)``)
    yield their total. Averages, which carry no total, yield None."""
    if text is None:
        return None
    s = text.strip()
    if s.startswith("total ("):
        s = s.split("\n", 1)[1].strip()
    if not s or s.startswith("("):
        return None
    parts = s.split(" (", 1)[0].split()
    num = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return num
    unit = parts[1]
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError("unknown metric unit in %r" % text)


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float | None]

    def get(self, metric: str) -> float:
        return self.metrics.get(metric) or 0.0

    @property
    def is_python(self) -> bool:
        return "time to run Python workers" in self.metrics

    @property
    def udf_name(self) -> str | None:
        """The Python function a Python node runs: ``MapInArrow
        run(...)`` -> run, ``ArrowEvalPython [parse_mtl_txt_udf(...)...]``
        -> parse_mtl_txt_udf."""
        m = re.match(r"\w+ \[?(\w+)\(", self.desc)
        return m.group(1) if m else None


@dataclass
class Execution:
    id: int
    submitted_s: float
    nodes: list[Node]
    edges: list[tuple[int, int]]  # (child id, parent id)

    def input_rows(self, node: Node) -> float:
        """Rows flowing into ``node``: the output-row count of the
        nearest descendant that records one."""
        todo = [c for c, p in self.edges if p == node.id]
        by_id = {n.id: n for n in self.nodes}
        while todo:
            n = by_id.get(todo.pop(0))
            if n is None:
                continue
            if "number of output rows" in n.metrics:
                return n.get("number of output rows")
            todo.extend(c for c, p in self.edges if p == n.id)
        return 0.0


@dataclass
class CallTrace:
    """One traced call: its job, timing and what Spark recorded."""

    name: str
    layer: str
    start_s: float  # epoch seconds at the call
    wall_s: float
    plan_s: float | None  # measured by the job itself, if it can split
    executions: list[Execution] = field(default_factory=list)
    jobs: int = 0
    failed_tasks: int = 0

    def nodes(self):
        for e in self.executions:
            for n in e.nodes:
                yield e, n


def _to_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class StoreReader:
    """Reads executions out of a live session's SQL status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self.seen = self.store.executionsCount()

    def new_executions(self, timeout_s: float = 10.0) -> list[Execution]:
        """Executions started since the last call, once the listener
        has recorded all of them as finished."""
        deadline = time.monotonic() + timeout_s
        while True:
            count = self.store.executionsCount()
            raw = _to_list(self.store.executionsList(self.seen, count - self.seen)) if count > self.seen else []
            done = all(e.completionTime().isDefined() for e in raw)
            if (done and count == self.store.executionsCount()) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        self.seen = count
        return [self._read(e) for e in raw]

    def _read(self, e) -> Execution:
        eid = e.executionId()
        graph = self.store.planGraph(eid)
        values = self.store.executionMetrics(eid)
        nodes = []
        for n in _to_list(graph.allNodes()):
            metrics = {}
            for m in _to_list(n.metrics()):
                v = values.get(m.accumulatorId())
                metrics[m.name()] = parse_value(v.get()) if v.isDefined() else None
            nodes.append(Node(n.id(), n.name(), n.desc(), metrics))
        edges = [(g.fromId(), g.toId()) for g in _to_list(graph.edges())]
        return Execution(eid, e.submissionTime() / 1000.0, nodes, edges)

    def job_stats(self, group: str) -> tuple[int, int]:
        """(jobs, failed tasks) of one job group."""
        jobs = self.tracker.getJobIdsForGroup(group)
        failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                failed += st.numFailedTasks if st else 0
        return len(jobs), failed


# ------------------------------------------------- attribution

# engine module -> layer name used in metric names
LAYER_MODULES = {
    "rio_toa_spark.functions.mtl": "mtl",
    "rio_toa_spark.operators.toa": "toa",
    "rio_toa_spark.operators.zonal": "zonal",
    "rio_toa_spark.operators.spatial_join": "spatial_join",
    "rio_toa_spark.operators.dedup": "dedup",
    "rio_toa_spark.operators.similarity": "similarity",
    "rio_toa_spark.operators.textstats": "textstats",
    "rio_toa_spark.operators.sampling": "sampling",
    "rio_toa_spark.operators.multimodal": "multimodal",
}


def function_layers() -> dict[str, str]:
    """Top-level function name -> layer, for names defined in exactly
    one engine module. Kernels defined inside an operator (``run``,
    ``score``) are not in it; their node belongs to the calling job's
    layer."""
    import importlib

    seen: dict[str, set[str]] = {}
    for mod_name, layer in LAYER_MODULES.items():
        mod = importlib.import_module(mod_name)
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod_name:
                seen.setdefault(name, set()).add(layer)
    return {n: next(iter(ls)) for n, ls in seen.items() if len(ls) == 1}


def _add(out: dict, key: str, v: float) -> None:
    out[key] = out.get(key, 0.0) + v


def layer_metrics(calls: list[CallTrace], index: dict[str, str]) -> dict[str, float]:
    """Fold traced calls into per-layer metric values. Names that
    the calls give no evidence for are absent; the caller reports them
    as 0."""
    out: dict[str, float] = {}
    for c in calls:
        plan = c.plan_s
        if plan is None and c.executions:
            # a CLI call: driver work up to the submission of its last
            # (write) execution is its plan time
            plan = max(0.0, c.executions[-1].submitted_s - c.start_s)
        _add(out, c.name + ".s", c.wall_s)
        _add(out, c.name + ".plan_s", plan or 0.0)
        _add(out, c.name + ".exec_s", c.wall_s - (plan or 0.0))
        _add(out, c.name + ".spark_jobs", c.jobs)
        if c.layer != c.name:
            _add(out, c.layer + ".spark_jobs", c.jobs)
        _add(out, "spark.failed_tasks", c.failed_tasks)
        for e, n in c.nodes():
            if n.is_python:
                layer = index.get(n.udf_name or "", c.layer)
                _add(out, layer + ".python_s", n.get("time to run Python workers"))
                _add(out, layer + ".python_init_s", n.get("time to initialize Python workers"))
                _add(out, layer + ".python_bytes_sent", n.get("data sent to Python workers"))
                _add(out, layer + ".python_bytes_received", n.get("data returned from Python workers"))
                _add(out, layer + ".python_rows", n.get("number of output rows"))
                _add(out, "spark.python_init_s", n.get("time to initialize Python workers"))
                if n.name == "ArrowEvalPython":
                    _add(out, layer + ".nodes", 1)
                if layer == "zonal":
                    _add(out, "zonal.pairs", e.input_rows(n))
            if n.name == "Exchange":
                _add(out, "spark.shuffle_bytes", n.get("shuffle bytes written"))
                _add(out, "spark.shuffle_records", n.get("shuffle records written"))
                _add(out, "spark.shuffle_write_s", n.get("shuffle write time"))
                _add(out, c.layer + ".shuffle_bytes", n.get("shuffle bytes written"))
            if n.name == "BroadcastExchange":
                _add(out, c.layer + ".broadcast_bytes", n.get("data size"))
                _add(out, c.layer + ".broadcast_collect_s", n.get("time to collect"))
            if "size of files read" in n.metrics:
                _add(out, "spark.scan_bytes", n.get("size of files read"))
            if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                _add(out, "write.bytes", n.get("written output"))
                _add(out, "write.files", n.get("number of written files"))
                _add(out, "write.commit_s", n.get("job commit time") + n.get("task commit time"))
            if c.name == "spatial_join.pip_join" and n.name == "BroadcastHashJoin":
                _add(out, "spatial_join.pip_join.refined_rows", n.get("number of output rows"))
    return out
