"""Traced-pass instrumentation: per-call spans, the Spark event log, a
streaming listener and storage polling, folded into per-call counts."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

_SCAN = re.compile(r"^Scan (parquet|json|csv|text|orc|binaryFile)\b")


@dataclass
class Span:
    """One call of the traced pass, in epoch milliseconds."""

    idx: int
    name: str
    kind: str
    group: str
    start_ms: float
    build_end_ms: float = 0.0
    end_ms: float = 0.0
    counts: dict = field(default_factory=dict)


class StreamListener:
    """Collects micro-batch progress from ``spark.streams``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                rows.append(
                    {
                        "ts": p.timestamp,
                        "rows": int(p.numInputRows),
                        "ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                        "state_rows": sum(int(o.numRowsTotal) for o in ops),
                        "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
                    }
                )

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def settle(self, timeout_s: float = 5.0) -> None:
        """Progress events arrive asynchronously; wait until none is new."""
        deadline, n = time.time() + timeout_s, -1
        while time.time() < deadline and n != len(self.rows):
            n = len(self.rows)
            time.sleep(0.5)

    def remove(self) -> None:
        self._spark.streams.removeListener(self._listener)


def live_cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    d = datetime.strptime(ts.rstrip("Z")[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def _scan_metric_ids(plan: dict, out: set) -> set:
    """The accumulator ids of every file scan's "number of files read"
    metric in a plan.  The plan also lists scans that do not run in it
    (a cached relation's plan under InMemoryTableScan, a reused
    exchange's subtree), so these ids only say which updates are scans."""
    if _SCAN.match(plan.get("nodeName", "")):
        out.update(
            m["accumulatorId"]
            for m in plan.get("metrics", [])
            if m["name"] == "number of files read"
        )
    for c in plan.get("children", []):
        _scan_metric_ids(c, out)
    return out


def _owner(spans: list[Span], group: str | None, t_ms: float) -> Span | None:
    """A job belongs to the call whose group it carries; a job with any
    other group (streaming micro-batches carry their query's run id) to
    the call whose span holds its submission time."""
    for s in spans:
        if group and s.group == group:
            return s
    for s in spans:
        if s.start_ms <= t_ms <= s.end_ms:
            return s
    return None


def _events(files):
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def fold_event_log(log_dir: str, spans: list[Span]) -> dict:
    """Parse the event log and add Spark counts to each span.  Returns the
    workload totals."""
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files.
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    job_owner, stage_owner = {}, {}
    submitted, stage_jobs = set(), {}
    exec_owner, scan_ids, files_read = {}, set(), {}
    keys = (
        "jobs", "eager_jobs", "stages", "stages_skipped", "tasks", "task_wait_s",
        "file_scans", "input_bytes", "input_rows", "task_cpu_s", "gc_s",
        "run_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "peak_exec_mem_bytes", "failed_tasks",
    )  # fmt: skip
    for s in spans:
        for k in keys:
            s.counts.setdefault(k, 0)
    stage_submit_ms = {}
    for ev in _events(files):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            s = _owner(spans, props.get("spark.jobGroup.id"), ev["Submission Time"])
            if s is None:
                continue
            job_owner[ev["Job ID"]] = s
            s.counts["jobs"] += 1
            s.counts.setdefault("job_sites", []).append(props.get("callSite.short", "?"))
            if ev["Submission Time"] < s.build_end_ms:
                s.counts["eager_jobs"] += 1
            ids = ev.get("Stage IDs", [])
            s.counts["stages"] += len(ids)
            stage_jobs[ev["Job ID"]] = ids
            for sid in ids:
                stage_owner[sid] = s
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted.add(info["Stage ID"])
            stage_submit_ms[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            s = stage_owner.get(ev["Stage ID"])
            if s is None:
                continue
            c, info = s.counts, ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            sub = stage_submit_ms.get(ev["Stage ID"]) or info["Launch Time"]
            c["task_wait_s"] += max(0, info["Launch Time"] - sub) / 1000.0
            c["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
            im = m.get("Input Metrics") or {}
            c["input_bytes"] += im.get("Bytes Read", 0)
            c["input_rows"] += im.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            s = _owner(spans, None, ev["time"])
            if s is not None:
                exec_owner[ev["executionId"]] = s
            _scan_metric_ids(ev["sparkPlanInfo"], scan_ids)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _scan_metric_ids(ev["sparkPlanInfo"], scan_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # A scan posts its file count once, in the execution that runs it.
            for acc, value in ev["accumUpdates"]:
                if value > 0:
                    files_read[acc] = ev["executionId"]
    for jid, ids in stage_jobs.items():
        job_owner[jid].counts["stages_skipped"] += sum(1 for i in ids if i not in submitted)
    for acc, eid in files_read.items():
        if acc in scan_ids and eid in exec_owner:
            exec_owner[eid].counts["file_scans"] += 1
    total = {k: sum(s.counts[k] for s in spans) for k in keys}
    total["peak_exec_mem_bytes"] = max((s.counts["peak_exec_mem_bytes"] for s in spans), default=0)
    return total


def fold_streams(listener: StreamListener, spans: list[Span]) -> dict:
    """Attribute micro-batch progress to calls by batch start time."""
    batches = []
    for r in listener.rows:
        s = _owner(spans, None, _iso_ms(r["ts"]))
        if s is None:
            continue
        c = s.counts
        c["streaming_batches"] = c.get("streaming_batches", 0) + 1
        c["streaming_input_rows"] = c.get("streaming_input_rows", 0) + r["rows"]
        c["streaming_state_rows"] = max(c.get("streaming_state_rows", 0), r["state_rows"])
        c["streaming_state_bytes"] = max(c.get("streaming_state_bytes", 0), r["state_bytes"])
        batches.append(r)
    return {
        "batches": len(batches),
        "input_rows": sum(r["rows"] for r in batches),
        "batch_p50_ms": statistics.median([r["ms"] for r in batches]) if batches else 0.0,
        "state_rows": max((r["state_rows"] for r in batches), default=0),
        "state_bytes": max((r["state_bytes"] for r in batches), default=0),
    }
