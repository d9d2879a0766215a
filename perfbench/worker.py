"""One benchmark run, started by ``run.py`` inside the pinned environment.

Load shape: one process, one SparkSession on ``local[nproc]``, a closed
loop with one client. A pass is one run through the workload's query
list in a seed-permuted order (reversed on odd passes); it starts with
``drain_session`` so memo builds are paid once per pass. Each query is
timed as plan construction ``fn(spark, sf_dir)`` (eager checkpoints,
memo builds and, for replays, the whole stream drain) followed by a
full ``noop``-sink materialization. An untimed warm-up pass, which also checks every
output against its DuckDB oracle, is billed to ``setup_s``. Timed
passes then run for ``--seconds``.

Times are raw walls. A timed pass that lost more than ``STEAL_MAX`` of
its runnable CPU time to the hypervisor is set aside, and further
passes run in its place (see :func:`used_passes`); CPU and steal
seconds of every pass and query are in the JSON record.

With ``--trace 1`` the same loop runs with the event log on, every
phase tagged with a job group, and the materialize helpers counted;
the record then holds the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

import duckdb  # noqa: E402
import pyspark  # noqa: E402

import _oracle  # noqa: E402  (tests/_oracle.py: the suite's oracle compare)
from eye_of_sauron_spark import plans  # noqa: E402
from eye_of_sauron_spark.functions import materialize  # noqa: E402
from eye_of_sauron_spark.session import get_spark  # noqa: E402
from tracing import (  # noqa: E402
    DURATION_PARTS,
    MB,
    MaterializeCounter,
    StreamProgress,
    fold_event_log,
    p50,
    p90,
    pinned_mb,
)
from workloads import SF_DIR, WORKLOADS  # noqa: E402

MIN_TIMED_PASSES = 2
MIN_SPAN_COVERAGE = 0.9
# A timed pass whose stolen share of runnable CPU time is above this is
# set aside while the run has enough passes below it.
STEAL_MAX = 0.1
# While fewer than MIN_TIMED_PASSES timed passes are below STEAL_MAX,
# further passes start until this multiple of --seconds has passed.
MAX_EXTEND = 2
_HZ = os.sysconf("SC_CLK_TCK")


def cpu_counters() -> tuple[float, float]:
    """(CPU seconds used by this run's process group -- the driver, its
    JVM and Spark's Python workers -- and CPU seconds the hypervisor
    stole from the host's CPUs), both cumulative."""
    pgrp = os.getpgrp()
    used = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if int(fields[2]) == pgrp:
            used += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return used / _HZ, steal / _HZ


def steal_frac(cpu: float, steal: float) -> float:
    """Share of an interval's runnable CPU time (this run's CPU time plus
    the host's stolen time) that the hypervisor took.

    On a shared virtual host the hypervisor deschedules runnable vCPUs.
    On a 4-vCPU cloud VM steal took 0-40% of CPU time in bursts lasting
    seconds to minutes, which moved raw walls of identical runs by 50%.
    Steal accrues only on vCPUs that want to run, and this run is the
    only busy process on the host."""
    return steal / (cpu + steal) if cpu + steal > 0 else 0.0


def _vm_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _reset_peak_rss(pid: int | str) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def environment() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "sf_dir": os.path.relpath(SF_DIR, ROOT),
        **{
            k: os.environ[k]
            for k in (
                "SPARK_GRAFT_CPUS",
                "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_LOCAL_DIRS",
                "PYTHONPATH",
            )
        },
    }


class Run:
    """State of one run: the session, the query list, and everything
    observed so far. Timestamps are epoch seconds (``time.time()``, the
    clock the JVM's event timestamps share); durations are
    ``time.perf_counter()`` differences."""

    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(args.work, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        self.build_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.streams = StreamProgress()
        self.spark.streams.addListener(self.streams)
        self.materialize = MaterializeCounter(materialize) if self.trace else None
        self.queries = plans.all_queries()
        self.oracles = plans.all_oracles()
        # The seed's permutation of the list; passes alternate it and its
        # reverse, so over two passes every query runs once before and
        # once after any query it shares a memo with.
        self.order = list(WORKLOADS[args.workload])
        random.Random(args.seed).shuffle(self.order)
        self.passes: list[dict] = []  # every pass, warm-up first
        self.executions: list[dict] = []  # every query execution, by seq
        self.failures: list[str] = []

    def _group(self, group: str, name: str) -> None:
        if self.trace:
            self.sc.setJobGroup(group, name)

    def _query(self, idx: int, name: str, con) -> dict:
        seq = len(self.executions)
        q = {"seq": seq, "pass": idx, "name": name, "ok": False}
        self.executions.append(q)
        c0 = cpu_counters()
        q["start"] = time.time()
        t0 = time.perf_counter()
        try:
            self._group(f"q{seq}|c", name)
            df = self.queries[name](self.spark, SF_DIR)
            q["construct_s"] = time.perf_counter() - t0
            q["execute_start"] = time.time()
            self._group(f"q{seq}|e", name)
            if con is not None:
                _oracle.compare(df, con, self.oracles[name])
            else:
                df.write.format("noop").mode("overwrite").save()
            q["ok"] = True
        except Exception:  # noqa: BLE001 -- one failing query is counted, not fatal
            self.failures.append(f"pass {idx} {name}: {traceback.format_exc()}")
            print(self.failures[-1], file=sys.stderr, flush=True)
        q["wall_s"] = time.perf_counter() - t0
        q["execute_s"] = q["wall_s"] - q.get("construct_s", q["wall_s"])
        q["cpu_s"], q["steal_s"] = (b - a for a, b in zip(c0, cpu_counters()))
        return q

    def run_pass(self, check: bool) -> dict:
        """One pass; ``check`` compares every output with its oracle
        instead of writing it to the noop sink."""
        idx = len(self.passes)
        order = self.order if idx % 2 == 0 else self.order[::-1]
        con = _oracle.duckdb_con(SF_DIR) if check else None
        p = {"idx": idx, "order": order, "start": time.time()}
        c0 = cpu_counters()
        t0 = time.perf_counter()
        mat0 = self.materialize.snapshot() if self.trace else None
        self._group(f"p{idx}|drain", "drain_session")
        materialize.drain_session(self.spark)
        p["queries"] = [self._query(idx, name, con)["seq"] for name in order]
        p["wall_s"] = time.perf_counter() - t0
        p["cpu_s"], p["steal_s"] = (b - a for a, b in zip(c0, cpu_counters()))
        p["steal_frac"] = steal_frac(p["cpu_s"], p["steal_s"])
        if self.trace:
            p["pinned_mb"] = pinned_mb(self.spark)
            p["checkpoints"], p["memo_requests"], p["memo_misses"] = (
                b - a for a, b in zip(mat0, self.materialize.snapshot())
            )
        if con is not None:
            con.close()
        self.passes.append(p)
        return p

    def stream_owners(self) -> dict[str, int]:
        """runId -> seq of the query execution that started the stream."""
        return self.streams.owners(
            [
                (q["seq"], q["start"], q.get("execute_start", q["start"] + q["wall_s"]))
                for q in self.executions
            ]
        )


def stream_by_pass(run: Run, owners: dict[str, int]) -> dict[int, list[dict]]:
    """Micro-batches of every stream, grouped by the pass of the query
    execution that started the stream."""
    out: dict[int, list[dict]] = {p["idx"]: [] for p in run.passes}
    for (run_id, batch_id), b in run.streams.batches.items():
        seq = owners.get(run_id)
        if seq is None:
            raise RuntimeError(f"stream {run_id} started outside every query window")
        out[run.executions[seq]["pass"]].append(
            {**b, "run_id": run_id, "batch_id": batch_id, "seq": seq}
        )
    return out


def used_passes(timed: list[dict]) -> list[dict]:
    """The timed passes the figures come from: those at most
    ``STEAL_MAX`` stolen, when there are ``MIN_TIMED_PASSES`` of them;
    otherwise the ``MIN_TIMED_PASSES`` least stolen."""
    clean = [p for p in timed if p["steal_frac"] <= STEAL_MAX]
    if len(clean) >= MIN_TIMED_PASSES:
        return clean
    return sorted(timed, key=lambda p: p["steal_frac"])[:MIN_TIMED_PASSES]


def end_to_end(run: Run, setup_s: float, used: list[dict]) -> dict:
    """The median used pass, and percentiles of every query execution of
    the used passes, pooled. The JVM is still compiling in the first
    timed passes: their CPU time falls pass after pass, so both figures
    depend on how many passes a run makes, which is the same from run to
    run at one ``--seconds`` unless steal adds passes."""
    walls = [run.executions[s]["wall_s"] for p in used for s in p["queries"]]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (p50([p["wall_s"] for p in used]), "s"),
        "query_s.p50": (p50(walls), "s"),
        "query_s.p90": (p90(walls), "s"),
    }


def streaming_metrics(batches_by_pass: dict[int, list[dict]], passes: list[dict]) -> dict:
    """Per-pass medians of the streaming layer, plus batch latency
    pooled over every micro-batch of ``passes``."""
    per_pass = [batches_by_pass[p["idx"]] for p in passes]
    pooled = [b for bs in per_pass for b in bs]

    def med(f) -> float:
        return p50([f(bs) for bs in per_pass])

    out = {
        "streaming.batches": (med(len), "count"),
        "streaming.empty_batch_frac": (
            med(lambda bs: sum(b["rows"] == 0 for b in bs) / len(bs) if bs else 0.0),
            "ratio",
        ),
        "streaming.batch_ms.p50": (p50([b["ms"] for b in pooled]) if pooled else 0.0, "ms"),
        "streaming.batch_ms.p90": (p90([b["ms"] for b in pooled]) if pooled else 0.0, "ms"),
        "streaming.rows_per_s": (
            sum(b["rows"] for b in pooled) / (sum(b["ms"] for b in pooled) / 1e3)
            if pooled else 0.0,
            "rows/s",
        ),
    }
    for part, name in DURATION_PARTS.items():
        out[f"streaming.{name}"] = (
            med(lambda bs, part=part: sum(b["parts"].get(part, 0) for b in bs)),
            "ms",
        )
    out["streaming.state_rows"] = (med(lambda bs: sum(b["state_rows"] for b in bs)), "count")
    out["streaming.state_mem_mb"] = (
        med(lambda bs: sum(b["state_bytes"] for b in bs) / MB), "MB")
    out["streaming.state_commit_ms"] = (
        med(lambda bs: sum(b["state_commit_ms"] for b in bs)), "ms")
    return out


def per_layer(run: Run, used: list[dict], batches_by_pass, engine: dict[int, dict]) -> dict:
    def med(f) -> float:
        return p50([f(p) for p in used])

    def q_sum(p, key) -> float:
        return sum(run.executions[s].get(key, 0.0) for s in p["queries"])

    out = {
        "session.build_s": (run.build_s, "s"),
        "plans.construct_s": (med(lambda p: q_sum(p, "construct_s")), "s"),
        "plans.execute_s": (med(lambda p: q_sum(p, "execute_s")), "s"),
        "materialize.checkpoints": (med(lambda p: p["checkpoints"]), "count"),
        "materialize.memo_requests": (med(lambda p: p["memo_requests"]), "count"),
        "materialize.memo_hit_ratio": (
            med(lambda p: 1 - p["memo_misses"] / p["memo_requests"] if p["memo_requests"] else 0.0),
            "ratio",
        ),
        "materialize.pinned_mb": (med(lambda p: p["pinned_mb"]), "MB"),
        **streaming_metrics(batches_by_pass, used),
    }
    engine_units = {
        "ml.python_rows": ("python_rows", "count"),
        "ml.python_mb": ("python_mb", "MB"),
        "sources.scan_mb": ("scan_mb", "MB"),
        "sources.scan_rows": ("scan_rows", "count"),
        "spark.jobs": ("jobs", "count"),
        "spark.stages": ("stages", "count"),
        "spark.tasks": ("tasks", "count"),
        "spark.task_run_s": ("task_run_s", "s"),
        "spark.task_cpu_s": ("task_cpu_s", "s"),
        "spark.gc_s": ("gc_s", "s"),
        "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
        "spark.spill_mb": ("spill_mb", "MB"),
        "spark.stage_skew": ("stage_skew", "ratio"),
        "spark.failed_tasks": ("failed_tasks", "count"),
    }
    for name, (key, unit) in engine_units.items():
        out[name] = (med(lambda p, key=key: engine.get(p["idx"], {}).get(key, 0.0)), unit)
    out["trace.pass_s"] = (p50([p["wall_s"] for p in used]), "s")  # as pass_s
    out["trace.span_coverage"] = (min(p["coverage"] for p in used), "ratio")
    return out


def build_spans(run: Run, batches_by_pass, job_spans: list[dict]) -> list[dict]:
    """pass -> query -> construct/execute -> micro-batch -> job, each
    span below a pass tagged with its query execution's id."""
    spans = []
    for p in run.passes:
        spans.append({"id": f"p{p['idx']}", "parent": None, "kind": "pass",
                      "start": p["start"], "dur": p["wall_s"]})
        for s in p["queries"]:
            q = run.executions[s]
            qid = f"q{s}"
            spans.append({"id": qid, "parent": f"p{p['idx']}", "kind": "query",
                          "name": q["name"], "start": q["start"], "dur": q["wall_s"]})
            if "construct_s" in q:
                spans.append({"id": f"{qid}|c", "parent": qid, "kind": "construct",
                              "start": q["start"], "dur": q["construct_s"]})
                spans.append({"id": f"{qid}|e", "parent": qid, "kind": "execute",
                              "start": q["execute_start"], "dur": q["execute_s"]})
        for b in batches_by_pass[p["idx"]]:
            spans.append({"id": f"b|{b['run_id']}|{b['batch_id']}", "parent": f"q{b['seq']}|c",
                          "kind": "micro_batch", "stream": run.streams.started[b["run_id"]][0],
                          "start": b["t"], "dur": b["ms"] / 1e3})
    spans.extend(job_spans)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        node = s
        while node is not None and node["kind"] not in ("query", "pass"):
            node = by_id.get(node["parent"])
        s["qid"] = node["id"] if node is not None and node["kind"] == "query" else None
    return spans


def fold_trace(run: Run, owners: dict[str, int]) -> tuple[dict[int, dict], list[dict]]:
    """Per-pass engine counters and job spans from the event log, which
    is complete once the session has stopped. Each query execution's own
    counters go into its record as ``engine``."""
    seq_pass = {q["seq"]: q["pass"] for q in run.executions}

    def owner(group: str | None, batch: str | None):
        if group is None:
            return None
        head = group.split("|")[0]
        if head.startswith("q"):  # q<seq>|c or q<seq>|e
            seq = int(head[1:])
            return seq_pass[seq], seq, group
        if head.startswith("p"):  # p<pass>|drain
            return int(head[1:]), None, head
        seq = owners.get(group)  # a stream's runId
        return None if seq is None else (seq_pass[seq], seq, f"b|{group}|{batch}")

    events_dir = os.path.join(run.args.work, "events")
    (log_name,) = os.listdir(events_dir)
    per, job_spans = fold_event_log(os.path.join(events_dir, log_name), owner)
    for (kind, key), counters in per.items():
        if kind == "query":
            run.executions[key]["engine"] = dict(counters)
    return {key: c for (kind, key), c in per.items() if kind == "pass"}, job_spans


def main() -> int:
    steal_at_start = cpu_counters()[1]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    run = Run(args)
    run.run_pass(check=True)
    setup_s = time.monotonic() - args.spawned_at
    setup_cpu, steal = cpu_counters()
    setup_steal = steal_frac(setup_cpu, steal - steal_at_start)

    _reset_peak_rss(run.jvm_pid)
    _reset_peak_rss("self")
    t_timed = time.perf_counter()
    while True:
        p = run.run_pass(check=False)
        elapsed = time.perf_counter() - t_timed
        timed = run.passes[1:]
        if len(timed) < MIN_TIMED_PASSES or elapsed + p["wall_s"] <= args.seconds:
            continue
        clean = sum(q["steal_frac"] <= STEAL_MAX for q in timed)
        if clean < MIN_TIMED_PASSES and elapsed < MAX_EXTEND * args.seconds:
            continue
        break
    used = used_passes(timed)
    rss_kb = _vm_kb(run.jvm_pid, "VmHWM") + _vm_kb("self", "VmHWM")

    run.streams.settle()
    owners = run.stream_owners()
    batches_by_pass = stream_by_pass(run, owners)
    correct = not run.failures
    spans = []
    if run.trace:
        for p in run.passes:
            covered = sum(run.executions[s].get("construct_s", 0.0)
                          + run.executions[s].get("execute_s", 0.0) for s in p["queries"])
            p["coverage"] = covered / p["wall_s"]
        bad = [p["idx"] for p in timed if p["coverage"] < MIN_SPAN_COVERAGE]
        if bad:
            run.failures.append(f"construct+execute spans cover < 90% of passes {bad}")
            correct = False
    run.spark.stop()

    if run.trace:
        engine, job_spans = fold_trace(run, owners)
        metrics = per_layer(run, used, batches_by_pass, engine)
        spans = build_spans(run, batches_by_pass, job_spans)
    else:
        metrics = end_to_end(run, setup_s, used)

    attempted = len(run.executions)
    failed = sum(not q["ok"] for q in run.executions)
    summary = dict(metrics)
    summary["ops_failed_frac"] = (failed / attempted, "ratio")
    summary["peak_rss_mb"] = (rss_kb * 1024 / MB, "MB")
    summary["pass_cpu_s"] = (p50([p["cpu_s"] for p in used]), "s")
    summary["used_passes"] = (len(used), "count")
    summary["query_samples"] = (sum(len(p["queries"]) for p in used), "count")
    summary["setup_steal_frac"] = (setup_steal, "ratio")
    summary["used_steal_frac.max"] = (max(p["steal_frac"] for p in used), "ratio")
    if not run.trace:
        s = streaming_metrics(batches_by_pass, used)
        if s["streaming.batches"][0]:
            for k in ("batch_ms.p50", "batch_ms.p90"):
                summary[k] = s[f"streaming.{k}"]
            summary["stream_rows_per_s"] = s["streaming.rows_per_s"]

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": environment(),
        "timed_passes": len(timed),
        "used_passes": [p["idx"] for p in used],
        "queries_per_pass": len(run.order),
        "summary": {k: v[0] for k, v in summary.items()},
        "failures": run.failures,
        "passes": run.passes,
        "executions": run.executions,
        "spans": spans,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} timed_passes={len(timed)} queries/pass={len(run.order)}")
    print("env " + json.dumps(record["env"], sort_keys=True))
    for name, (value, unit) in summary.items():
        print(f"  {name:30s} {value:14.4f} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
