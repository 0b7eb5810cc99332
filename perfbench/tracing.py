"""Observation from outside the engine: spans, py4j call counts,
streaming progress and Spark's event log.

Nothing here changes what the engine does. The py4j counter wraps the
gateway client's ``send_command`` of a running session, the streaming
listener only records progress events, and the event log is parsed
after the session has stopped and flushed it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from stats import Span, sql_metric_value, task_metric_seconds

# -- spans -------------------------------------------------------------


class Spans:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None, op: int) -> int:
        span = Span(len(self.spans), name, start, end, parent, op)
        self.spans.append(span)
        return span.id

    def write(self, path: str, self_s: dict[int, float]) -> None:
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_s": self_s[s.id],
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


# -- py4j --------------------------------------------------------------


class Py4jCounter:
    """Counts the commands Python sends to the JVM over py4j."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0

    def _counted(self, *args, **kwargs):
        with self._lock:
            self.calls += 1
        return self._send(*args, **kwargs)

    def __enter__(self) -> Py4jCounter:
        self._client.send_command = self._counted
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command


# -- streaming progress ------------------------------------------------


class StreamProgress:
    """A StreamingQueryListener that keeps every progress event and
    which query runs have started and terminated."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._lock = threading.Lock()
        owner = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                with owner._lock:
                    owner._started.add(str(event.runId))

            def onQueryProgress(self, event) -> None:
                p = json.loads(event.progress.json)
                with owner._lock:
                    owner.progress.append(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                with owner._lock:
                    owner._terminated.add(str(event.runId))

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def wait_terminated(self, timeout: float = 30.0) -> None:
        """Block until every started run has delivered its Terminated
        event. The listener bus is asynchronous and in order, so after
        that every progress event of those runs has arrived too."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self._started <= self._terminated:
                    return
            time.sleep(0.02)
        raise TimeoutError("streaming listener did not see every query terminate")

    def take(self) -> list[dict]:
        """Progress events received since the last call."""
        with self._lock:
            out, self.progress = self.progress, []
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


# Microbatch phases in the order MicroBatchExecution runs them.
BATCH_PHASES = (
    ("latestOffset", "streaming.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "streaming.get_batch"),
    ("queryPlanning", "streaming.plan"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)


def batch_start(progress: dict) -> float:
    """Epoch seconds at which a microbatch's trigger started."""
    from datetime import datetime

    ts = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp()


def streaming_totals(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming metrics over the microbatches of some runs.
    Times are summed over microbatches; state size is taken from each
    run's last microbatch (rows, bytes) or its widest one (stores)."""
    out = {
        "streaming.batches": float(len(progress)),
        "streaming.plan_s": 0.0,
        "streaming.add_batch_s": 0.0,
        "streaming.wal_commit_s": 0.0,
        "streaming.commit_offsets_s": 0.0,
        "streaming.latest_offset_s": 0.0,
        "streaming.state_commit_s": 0.0,
        "streaming.state_rows": 0.0,
        "streaming.state_mem_mb": 0.0,
        "streaming.state_stores": 0.0,
    }
    keys = {
        "queryPlanning": "streaming.plan_s",
        "addBatch": "streaming.add_batch_s",
        "walCommit": "streaming.wal_commit_s",
        "commitOffsets": "streaming.commit_offsets_s",
        "latestOffset": "streaming.latest_offset_s",
    }
    last: dict[str, dict] = {}
    stores: dict[str, int] = {}
    for p in progress:
        d = p.get("durationMs", {})
        for k, name in keys.items():
            out[name] += d.get(k, 0) / 1000.0
        ops = p.get("stateOperators", [])
        out["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
        run = p["runId"]
        if run not in last or p["batchId"] >= last[run]["batchId"]:
            last[run] = p
        stores[run] = max(
            stores.get(run, 0), sum(o.get("numStateStoreInstances", 0) for o in ops)
        )
    for p in last.values():
        ops = p.get("stateOperators", [])
        out["streaming.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
        out["streaming.state_mem_mb"] += sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20
    out["streaming.state_stores"] = float(sum(stores.values()))
    return out


# -- event log ---------------------------------------------------------


class NotFinalPlan(RuntimeError):
    """The event log holds no AQE-final plan for an execution."""


def read_event_log(directory: str) -> list[dict]:
    """Every event of the one application logged under ``directory``,
    in order. Handles rolling (``eventlog_v2_*/events_<n>_*``) and
    single-file logs."""
    files = sorted(
        glob.glob(os.path.join(directory, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        files = [
            p
            for p in glob.glob(os.path.join(directory, "*"))
            if os.path.isfile(p) and not p.endswith((".crc", ".inprogress"))
        ]
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def plan_nodes(info: dict):
    """Depth-first walk over a SparkPlanInfo tree."""
    stack = [info]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(reversed(node.get("children", [])))


def plan_text(info: dict) -> str:
    """One line per operator, each the node's simpleString."""
    return "\n".join(n["simpleString"] for n in plan_nodes(info))


def is_final(info: dict) -> bool:
    """True when every adaptive plan in the tree reports
    ``isFinalPlan=true``; a plan without AQE is final as planned."""
    return all(
        "isFinalPlan=true" in n["simpleString"]
        for n in plan_nodes(info)
        if n["nodeName"] == "AdaptiveSparkPlan"
    )


class EventLog:
    """Jobs, tasks and SQL executions of one application's event log,
    indexed for attribution to the benchmark's ops."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.completed_stages: set[int] = set()
        self.executions: dict[int, dict] = {}
        self.metric_types: dict[int, str] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(e["Stage IDs"]),
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                self.completed_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(e["Stage ID"], []).append(e)
            elif kind.endswith("SQLExecutionStart"):
                self._note_metrics(e["sparkPlanInfo"])
                self.executions[e["executionId"]] = {
                    "root": e.get("rootExecutionId", e["executionId"]),
                    "group": e.get("jobGroupId"),
                    "plan": e["sparkPlanInfo"],
                }
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                self._note_metrics(e["sparkPlanInfo"])
                if e["executionId"] in self.executions:
                    self.executions[e["executionId"]]["plan"] = e["sparkPlanInfo"]

    def _note_metrics(self, info: dict) -> None:
        for node in plan_nodes(info):
            for m in node.get("metrics", []):
                self.metric_types[m["accumulatorId"]] = m["metricType"]

    def jobs_between(self, start: float, end: float) -> list[int]:
        """Jobs submitted inside [start, end] (epoch seconds; the log
        keeps milliseconds, so the window is widened by one)."""
        lo, hi = start - 1e-3, end + 1e-3
        return sorted(j for j, job in self.jobs.items() if lo <= job["start"] <= hi)

    def final_plan(self, execution_id: int) -> dict:
        """The last plan logged for an execution, required to be final:
        AQE re-plans while stages run, so any earlier plan may show
        exchanges and join strategies that did not run."""
        info = self.executions[execution_id]["plan"]
        if not is_final(info):
            raise NotFinalPlan(f"execution {execution_id} logged no isFinalPlan=true plan")
        return info

    def root_executions(self, group: str) -> list[int]:
        """Root SQL executions started under a job group."""
        return sorted(
            i for i, ex in self.executions.items() if ex["group"] == group and ex["root"] == i
        )

    def task_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Task-level work of some jobs, in base units."""
        stages = sorted({s for j in job_ids for s in self.jobs[j]["stages"]})
        out = {
            "operators.jobs": float(len(job_ids)),
            "operators.stages": float(sum(s in self.completed_stages for s in stages)),
            "operators.tasks": 0.0,
            "operators.task_s": 0.0,
            "operators.cpu_s": 0.0,
            "operators.gc_s": 0.0,
            "operators.peak_exec_mem_mb": 0.0,
            "operators.spill_bytes": 0.0,
            "operators.shuffle_write_bytes": 0.0,
            "operators.shuffle_write_s": 0.0,
            "operators.fetch_wait_s": 0.0,
            "operators.python_bytes_out": 0.0,
            "operators.python_bytes_in": 0.0,
            "operators.python_run_s": 0.0,
            "io.scan_bytes": 0.0,
            "io.scan_rows": 0.0,
        }
        python = {
            "data sent to Python workers": "operators.python_bytes_out",
            "data returned from Python workers": "operators.python_bytes_in",
            "time to run Python workers": "operators.python_run_s",
        }
        for s in stages:
            for t in self.stage_tasks.get(s, []):
                m = t.get("Task Metrics") or {}
                out["operators.tasks"] += 1
                out["operators.task_s"] += task_metric_seconds(
                    "Executor Run Time", m.get("Executor Run Time", 0)
                )
                out["operators.cpu_s"] += task_metric_seconds(
                    "Executor CPU Time", m.get("Executor CPU Time", 0)
                )
                out["operators.gc_s"] += task_metric_seconds("JVM GC Time", m.get("JVM GC Time", 0))
                out["operators.peak_exec_mem_mb"] = max(
                    out["operators.peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 2**20
                )
                out["operators.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                w = m.get("Shuffle Write Metrics") or {}
                out["operators.shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                out["operators.shuffle_write_s"] += task_metric_seconds(
                    "Shuffle Write Time", w.get("Shuffle Write Time", 0)
                )
                r = m.get("Shuffle Read Metrics") or {}
                out["operators.fetch_wait_s"] += task_metric_seconds(
                    "Fetch Wait Time", r.get("Fetch Wait Time", 0)
                )
                i = m.get("Input Metrics") or {}
                out["io.scan_bytes"] += i.get("Bytes Read", 0)
                out["io.scan_rows"] += i.get("Records Read", 0)
                for acc in (t.get("Task Info") or {}).get("Accumulables", []):
                    name = python.get(acc.get("Name"))
                    if name is None or "Update" not in acc:
                        continue
                    kind = self.metric_types.get(acc["ID"], "sum")
                    out[name] += sql_metric_value(kind, float(acc["Update"]))
        return out

