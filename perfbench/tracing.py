"""What the benchmark observes around the program, through public
channels only: the streaming listener bus, counting wrappers on the
materialize helpers, and the Spark event log folded after the session
stops."""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6
# the StreamingQueryProgress.durationMs parts the per-layer record keeps
DURATION_PARTS = {
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms",
    "getBatch": "get_batch_ms",
}
_PY_METRICS = {
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "number of output rows": "python_rows",
}


def epoch_s(iso: str) -> float:
    """Seconds since the epoch of a progress-event timestamp."""
    dt = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class StreamProgress(StreamingQueryListener):
    """Keeps every stream's start event and its per-micro-batch progress,
    keyed by ``runId``. The bus is asynchronous, so events are attributed
    to a benchmark query afterwards by the stream's own start time, never
    by when they arrived."""

    def __init__(self) -> None:
        self.started: dict[str, tuple[str | None, float]] = {}
        self.terminated: set[str] = set()
        # (runId, batchId) -> progress; a re-executed batch overwrites
        self.batches: dict[tuple[str, int], dict] = {}
        self.last_event = time.monotonic()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.started[str(event.runId)] = (event.name, epoch_s(event.timestamp))
        self.last_event = time.monotonic()

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators
        self.batches[(str(p.runId), p.batchId)] = {
            "rows": p.numInputRows,
            "ms": p.batchDuration,
            "t": epoch_s(p.timestamp),
            "parts": {k: v for k, v in p.durationMs.items() if k in DURATION_PARTS},
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        }
        self.last_event = time.monotonic()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.add(str(event.runId))
        self.last_event = time.monotonic()

    def settle(self, quiet_s: float = 0.5, timeout_s: float = 30.0) -> None:
        """Wait until every started stream's termination has arrived and
        the bus has been quiet for ``quiet_s``."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            done = set(self.started) <= self.terminated
            if done and time.monotonic() - self.last_event >= quiet_s:
                return
            time.sleep(0.05)
        raise TimeoutError(
            f"streaming listener: {len(set(self.started) - self.terminated)} "
            "streams never reported termination"
        )

    def owners(self, windows: list[tuple[int, float, float]]) -> dict[str, int]:
        """runId -> seq of the query execution whose construct window
        ``(seq, start, end)`` (epoch seconds) holds the stream's start."""
        out = {}
        for run_id, (_, t) in self.started.items():
            for seq, t0, t1 in windows:
                if t0 - 0.005 <= t <= t1 + 0.005:
                    out[run_id] = seq
                    break
        return out


class MaterializeCounter:
    """Counts checkpoints and memo requests by wrapping the
    ``functions.materialize`` helpers. Plan modules import them at call
    time, so the wrappers see every call."""

    def __init__(self, materialize) -> None:
        self.checkpoints = self.memo_requests = self.memo_misses = 0
        ck, memo = materialize.checkpoint_tracked, materialize.memo_checkpoint

        def checkpoint_tracked(df):
            self.checkpoints += 1
            return ck(df)

        def memo_checkpoint(spark, key, build):
            self.memo_requests += 1

            def counted_build():
                self.memo_misses += 1
                self.checkpoints += 1
                return build()

            return memo(spark, key, counted_build)

        materialize.checkpoint_tracked = checkpoint_tracked
        materialize.memo_checkpoint = memo_checkpoint

    def snapshot(self) -> tuple[int, int, int]:
        return self.checkpoints, self.memo_requests, self.memo_misses


def pinned_mb(spark) -> float:
    """Storage memory and disk held by persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _plan_nodes(node):
    yield node
    for child in node.get("children", ()):
        yield from _plan_nodes(child)


def fold_event_log(path: str, owner) -> tuple[dict[tuple, dict], list[dict]]:
    """Fold a Spark event log into engine counters per pass and per
    query execution.

    ``owner(job_group_id, batch_id)`` returns ``(pass_idx, seq,
    parent_span)`` for a job the benchmark started, or None; ``seq`` is
    the query execution's, or None for a pass's own jobs. Returns the
    counters keyed ``("pass", pass_idx)`` and ``("query", seq)``, and one
    span per owned job."""
    per: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    stage_keys: dict[int, tuple] = {}
    task_ms: dict[tuple, list[int]] = defaultdict(list)  # (key, stage, attempt)
    py_acc: dict[int, str] = {}
    job_spans: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                batch = props.get("streaming.sql.batchId")
                hit = owner(props.get("spark.jobGroup.id"), batch)
                if hit is None:
                    continue
                p, seq, parent = hit
                keys = (("pass", p),) if seq is None else (("pass", p), ("query", seq))
                for k in keys:
                    per[k]["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_keys[s] = keys
                job_spans[e["Job ID"]] = {
                    "id": f"j{e['Job ID']}",
                    "parent": parent,
                    "kind": "job",
                    "start": e["Submission Time"] / 1e3,
                }
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_spans:
                span = job_spans[e["Job ID"]]
                span["dur"] = e["Completion Time"] / 1e3 - span["start"]
            elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                for node in _plan_nodes(e["sparkPlanInfo"]):
                    names = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                    if "data sent to Python workers" in names:
                        for name, key in _PY_METRICS.items():
                            if name in names:
                                py_acc[names[name]] = key
            elif ev == "SparkListenerStageCompleted":
                for k in stage_keys.get(e["Stage Info"]["Stage ID"], ()):
                    per[k]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                keys = stage_keys.get(e["Stage ID"], ())
                if not keys:
                    continue
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                shuffle = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                task = {
                    "tasks": 1,
                    "failed_tasks": e["Task End Reason"]["Reason"] != "Success",
                    "task_run_s": m.get("Executor Run Time", 0) / 1e3,
                    "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
                    "shuffle_write_mb": shuffle.get("Shuffle Bytes Written", 0) / MB,
                    "scan_mb": inp.get("Bytes Read", 0) / MB,
                    "scan_rows": inp.get("Records Read", 0),
                }
                for acc in info.get("Accumulables", ()):
                    key = py_acc.get(acc["ID"])
                    if key is not None:
                        task[key] = task.get(key, 0.0) + float(acc["Update"])
                for k in keys:
                    for name, v in task.items():
                        per[k][name] += v
                    task_ms[(k, e["Stage ID"], e["Stage Attempt ID"])].append(
                        max(1, info["Finish Time"] - info["Launch Time"])
                    )
    skews: dict[tuple, list[float]] = defaultdict(list)
    for (k, _, _), ms in task_ms.items():
        if len(ms) >= 2:
            skews[k].append(max(ms) / statistics.median(ms))
    for k, c in per.items():
        c["stage_skew"] = p90(skews[k]) if skews[k] else 1.0
        c["python_mb"] = c.pop("python_bytes", 0.0) / MB
    return per, list(job_spans.values())


p50 = statistics.median


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]
