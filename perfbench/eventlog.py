"""SQL and task metrics harvested from a Spark event log.

Reading ``df._jdf.queryExecution()`` after ``df.write`` returns zeros: the
write runs a different execution. The event log holds the metrics of every
execution that actually ran, so the benchmark reads it after the session
has stopped:

- node metrics are declared in the ``sparkPlanInfo`` trees of
  ``SQLExecutionStart`` and every ``SQLAdaptiveExecutionUpdate`` (AQE
  re-plans add nodes with new accumulator ids);
- their values are the task ``Accumulables`` updates of successful tasks
  plus the ``DriverAccumUpdates`` (scan file sizes, sink commit times).

Executions are grouped by their description, which the benchmark sets with
``setJobDescription`` before each call it times.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Execution:
    execution_id: int
    description: str
    #: (node name, metric name) -> summed value in the metric's own unit
    #: (bytes for size, ms for timing, ns for nsTiming, count for sum)
    metrics: dict = field(default_factory=lambda: defaultdict(float))
    #: (node name, metric name) -> largest single task update
    task_max: dict = field(default_factory=lambda: defaultdict(float))
    #: executor run time (ms) of each successful task, keyed by the plan
    #: node names the task reported metrics for
    tasks: list = field(default_factory=list)

    def total(self, node_prefix: str, metric: str) -> float:
        return sum(
            (v for (node, name), v in self.metrics.items()
             if node.startswith(node_prefix) and name == metric),
            0.0,
        )

    def peak(self, node_prefix: str, metric: str) -> float:
        return max(
            (v for (node, name), v in self.task_max.items()
             if node.startswith(node_prefix) and name == metric),
            default=0.0,
        )

    def task_ms(self, node_prefix: str) -> list:
        return [
            ms for ms, nodes in self.tasks
            if any(n.startswith(node_prefix) for n in nodes)
        ]


def read_events(log_dir: str) -> list:
    """Every event of the (single) application logged under ``log_dir``, in
    the rolling layout Spark 4 writes by default: ``eventlog_v2_<app>/
    events_<n>_<app>[.zstd]``."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for path in sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with pa.OSFile(path) as raw:
            if path.endswith(".zstd"):
                data = pa.CompressedInputStream(raw, "zstd").read()
            elif "." not in os.path.basename(path):
                data = raw.read()
            else:
                raise ValueError(f"unsupported event log codec: {path}")
        events.extend(json.loads(line) for line in data.decode("utf-8").splitlines() if line)
    return events


def _walk(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"].strip(), m["name"])
    for child in info.get("children", ()):
        _walk(child, out)


def executions(events: list) -> dict:
    """execution id -> Execution, with node metrics and task times."""
    execs: dict = {}
    acc_owner: dict = {}  # accumulator id -> (execution id, node, metric)
    stage_exec: dict = {}  # stage id -> execution id
    for ev in events:
        kind = ev["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            eid = ev["executionId"]
            execs[eid] = Execution(eid, ev.get("description") or "")
            found: dict = {}
            _walk(ev["sparkPlanInfo"], found)
            for acc, (node, name) in found.items():
                acc_owner[acc] = (eid, node, name)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            found = {}
            _walk(ev["sparkPlanInfo"], found)
            for acc, (node, name) in found.items():
                acc_owner.setdefault(acc, (ev["executionId"], node, name))
        elif kind == "SparkListenerJobStart":
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                for sid in ev.get("Stage IDs", ()):
                    stage_exec[sid] = int(eid)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc, value in ev["accumUpdates"]:
                owner = acc_owner.get(acc)
                if owner and owner[0] in execs:
                    execs[owner[0]].metrics[(owner[1], owner[2])] += float(value)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                continue
            nodes = set()
            eid = stage_exec.get(ev["Stage ID"])
            for acc in info.get("Accumulables", ()):
                owner = acc_owner.get(acc["ID"])
                if not owner or owner[0] not in execs:
                    continue
                try:
                    update = float(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                ex = execs[owner[0]]
                key = (owner[1], owner[2])
                ex.metrics[key] += update
                ex.task_max[key] = max(ex.task_max[key], update)
                nodes.add(owner[1])
                eid = owner[0] if eid is None else eid
            run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time")
            if eid in execs and run_ms is not None:
                execs[eid].tasks.append((float(run_ms), frozenset(nodes)))
    return execs


def by_label(execs: dict) -> dict:
    """description -> [Execution], in execution order."""
    out: dict = defaultdict(list)
    for eid in sorted(execs):
        out[execs[eid].description].append(execs[eid])
    return out


def layer_metrics(group: list) -> dict:
    """Per-layer figures of one timed call (all executions it ran)."""
    def total(node: str, metric: str) -> float:
        return sum((e.total(node, metric) for e in group), 0.0)

    kernel_ms = [ms for e in group for ms in e.task_ms("MapInPandas")]
    p50 = statistics.median(kernel_ms) if kernel_ms else 0.0
    mx = max(kernel_ms) if kernel_ms else 0.0
    return {
        "sources.scan_ms": total("Scan", "scan time"),
        "sources.read_mb": total("Scan", "size of files read") / 1e6,
        "sources.rows_read": total("Scan", "number of output rows"),
        "job.python_run_ms": total("MapInPandas", "time to run Python workers"),
        "job.python_start_ms": total("MapInPandas", "time to start Python workers"),
        "job.python_init_ms": total("MapInPandas", "time to initialize Python workers"),
        "job.arrow_sent_mb": total("MapInPandas", "data sent to Python workers") / 1e6,
        "job.arrow_recv_mb": total("MapInPandas", "data returned from Python workers") / 1e6,
        "job.rows_from_python": total("MapInPandas", "number of output rows"),
        "job.kernel_tasks": float(len(kernel_ms)),
        "job.kernel_task_ms_p50": p50,
        "job.kernel_task_ms_max": mx,
        "job.kernel_task_skew": mx / p50 if p50 else 0.0,
        "job.shuffle_write_mb": total("Exchange", "shuffle bytes written") / 1e6,
        "job.shuffle_write_ms": total("Exchange", "shuffle write time") / 1e6,
        "job.sink_rows": total("Execute InsertIntoHadoopFsRelationCommand", "number of output rows"),
        "job.sink_commit_ms": (
            total("Execute InsertIntoHadoopFsRelationCommand", "job commit time")
            + total("Execute InsertIntoHadoopFsRelationCommand", "task commit time")
        ),
        "job.sort_peak_mb": max(
            (e.peak("Sort", "peak memory") for e in group), default=0.0
        ) / 1e6,
    }
