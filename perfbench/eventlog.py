"""Per-layer metrics from a Spark event log (uncompressed JSON lines).

The traced session tags every job with ``<pass>:<layer>`` through
``SparkContext.setJobDescription`` (see child.Layers), so each stage's
description says which pass and which layer it served.  Task metrics
come from SparkListenerTaskEnd: executor run/CPU/GC time, shuffle and
spill bytes, and the Python runner's accumulables (time to start,
initialize and run Python workers; bytes sent to and returned from
them).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from statistics import median

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_events(path: str) -> list[dict]:
    """Events of one application log: a file, or a directory holding
    one log (plain file or rolling ``eventlog_v2_*`` parts)."""
    if os.path.isdir(path):
        files = sorted(p for p in glob.glob(os.path.join(path, "**", "*"),
                                            recursive=True)
                       if os.path.isfile(p)
                       and not os.path.basename(p).startswith(".")
                       and "appstatus" not in os.path.basename(p))
    else:
        files = [path]
    events = []
    for p in files:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


class Log:
    """Stages and tasks of one application, keyed by job description."""

    def __init__(self, events: list[dict]):
        self.job_desc: dict[int, str | None] = {}
        self.stage_desc: dict[int, str | None] = {}
        self.stage_span: dict[int, float] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.job_desc[e["Job ID"]] = (
                    e.get("Properties") or {}).get("spark.job.description")
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                self.stage_desc[sid] = (
                    e.get("Properties") or {}).get("spark.job.description")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Completion Time" in info and "Submission Time" in info:
                    self.stage_span[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.tasks[e["Stage ID"]].append(_task(e))

    def labels(self) -> list[str]:
        """Pass labels in order of first appearance."""
        seen: dict[str, None] = {}
        for d in self.job_desc.values():
            if d and ":" in d:
                seen.setdefault(d.split(":", 1)[0], None)
        return list(seen)

    def stages(self, label: str, layer: str | None = None) -> list[int]:
        want = f"{label}:{layer}" if layer else f"{label}:"
        return [s for s, d in self.stage_desc.items() if d and (
            d == want if layer else d.startswith(want))]

    def jobs(self, label: str, layer: str | None = None) -> int:
        want = f"{label}:{layer}" if layer else f"{label}:"
        return sum(1 for d in self.job_desc.values() if d and (
            d == want if layer else d.startswith(want)))


def _task(e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
        "failed": bool(info.get("Failed")) or
        e.get("Task End Reason", {}).get("Reason") != "Success",
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) +
        sr.get("Local Bytes Read", 0),
        "spill": m.get("Memory Bytes Spilled", 0) +
        m.get("Disk Bytes Spilled", 0),
        "py": {k: int(acc[k]) for k in
               (PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RETURNED)
               if acc.get(k) is not None},
    }


def _pass_metrics(log: Log, label: str) -> dict:
    stages = log.stages(label)
    tasks = [t for s in stages for t in log.tasks.get(s, [])]
    py = [t["py"] for t in tasks if t["py"]]
    out = {
        "spark.jobs": log.jobs(label),
        "spark.stages": sum(1 for s in stages if s in log.stage_span),
        "spark.tasks": len(tasks),
        "spark.tasks_failed": sum(t["failed"] for t in tasks),
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.jvm_gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "pyworker.start_s": sum(p.get(PY_START, 0) for p in py) / 1000.0,
        "pyworker.init_s": sum(p.get(PY_INIT, 0) for p in py) / 1000.0,
        "pyworker.run_s": sum(p.get(PY_RUN, 0) for p in py) / 1000.0,
        "pyworker.bytes_to_python": sum(p.get(PY_SENT, 0) for p in py),
        "pyworker.bytes_from_python": sum(p.get(PY_RETURNED, 0) for p in py),
        "spark.canonical.jobs": log.jobs(label, "canonical"),
    }
    # the tagger stage: the Python stage(s) of the tagger layer
    tag = [s for s in log.stages(label, "tagger")
           if any(t["py"] for t in log.tasks.get(s, []))]
    durs = sorted(t["dur_s"] for s in tag for t in log.tasks.get(s, []))
    out.update({
        "spark.tagger.stage_s": sum(log.stage_span.get(s, 0.0) for s in tag),
        "spark.tagger.tasks": len(durs),
        "spark.tagger.task_p50_s": median(durs) if durs else 0.0,
        "spark.tagger.task_max_s": durs[-1] if durs else 0.0,
    })
    return out


# paid once per session: workers are forked by the set-up job and
# initialized for each UDF in the cold pass, then reused
FIRST_USE = ("pyworker.start_s", "pyworker.init_s")


def ledger(events: list[dict]) -> dict:
    """Per-layer metrics: the median over warm passes, except Python
    worker start and init, which are summed over the set-up job and the
    cold pass.  Returns {"metrics": {...}, "passes": {label: {...}}}."""
    log = Log(events)
    passes = {label: _pass_metrics(log, label) for label in log.labels()}
    warm = [m for label, m in passes.items() if label.startswith("warm")]
    metrics = {}
    if warm:
        for k in warm[0]:
            metrics[k] = median(m[k] for m in warm)
    for k in FIRST_USE:
        metrics[k] = sum(passes[label][k] for label in ("setup", "cold")
                         if label in passes)
    return {"metrics": metrics, "passes": passes}
