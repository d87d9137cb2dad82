"""Spark-tier counters for one action, read after it finishes.

Operator metrics come from walking the final adaptive plan of the
DataFrame the action ran (``df._jdf.queryExecution().executedPlan()``);
job, stage and task counts come from ``statusTracker()`` for the job
group the action ran under.  Both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

from collections import Counter

#: plan metric -> benchmark counter, per operator family
SCAN = {"numFiles": "scan_files", "filesSize": "scan_bytes",
        "numOutputRows": "scan_rows", "scanTime": "scan_ms"}
PYTHON = {"pythonTotalTime": "python_ms", "pythonBootTime": "python_boot_ms",
          "pythonDataSent": "python_sent_bytes",
          "pythonDataReceived": "python_received_bytes"}
EXCHANGE = {"dataSize": "shuffle_bytes"}

COUNTERS = ["jobs", "stages", "tasks", *SCAN.values(), *PYTHON.values(),
            *EXCHANGE.values()]


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _metric(node, key: str) -> float | None:
    opt = node.metrics().get(key)
    return float(opt.get().value()) if opt.isDefined() else None


def plan_counters(df) -> Counter:
    """Sum the scan, python and exchange metrics over the executed plan."""
    out: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        name = node.nodeName()
        families = []
        if cls.startswith("FileSourceScan") or name.startswith("Scan "):
            families.append(SCAN)
        if node.metrics().contains("pythonDataSent"):
            families.append(PYTHON)
        if cls == "ShuffleExchangeExec":
            families.append(EXCHANGE)
        for fam in families:
            for key, counter in fam.items():
                v = _metric(node, key)
                if v is not None:
                    out[counter] += v
        stack.extend(_children(node))
    return out


def job_counters(sc, group: str) -> Counter:
    """Jobs, executed stages and tasks the job group ran."""
    out: Counter = Counter()
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
    return out
