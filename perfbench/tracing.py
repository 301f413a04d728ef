"""Outside-in tracing for the traced run.

Nothing here reaches inside the engine. Spans are recorded around the
benchmark's own calls into each layer; Spark jobs and stages come from
Spark's own event log, streaming triggers from a ``StreamingQueryListener``
the benchmark registers, and job counts from the ``StatusTracker``. Every
call runs under a job group named after its span, so each Spark job in the
event log is attributed to the span, and so to the layer, that launched it.
Streaming micro-batches run under their query's run id as job group; the
listener maps that id back to the job span that started the query.

The span tree is workload > pass > job > plans.build / plans.exec /
mr.submit > spark.job > spark.stage, with streaming.trigger spans under
the job that ran the stream.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time

LAYERS = ("plans", "operators", "mr", "streaming")
SPAN_KINDS = (
    "pass", "job", "plans.build", "plans.exec", "mr.submit",
    "spark.job", "spark.stage", "streaming.trigger",
)
EVENT_TOTALS = (
    "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "tasks", "tasks_failed", "cpu_util",
)
MB = 1 << 20


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Span recorder. With ``enabled`` false it only keeps the stack, so
    untraced passes run the same benchmark code without touching Spark."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent and parent["trace"] else None,
            "name": name,
            **attrs,
        }
        if name == "job":
            sp["trace"] = sp["id"]  # one trace id per job execution
        sc = self.spark.sparkContext if self.enabled and group else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-{sp['id']}", name)
        self._stack.append(sp)
        sp["start_ms"] = _now_ms()
        try:
            yield sp
        finally:
            sp["end_ms"] = _now_ms()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                self.spans.append(sp)

    def group_jobs(self, span_id: int) -> int:
        """Spark jobs the StatusTracker saw under a span's job group."""
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(f"perfbench-{span_id}"))


def stream_listener():
    """A listener that collects streaming query start, progress and
    termination events (pyspark is imported only when one is made)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: list[tuple[str, float]] = []
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started.append((str(event.runId), _now_ms()))

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators or []
            with self.lock:
                self.progress.append({
                    "run_id": str(p.runId),
                    "timestamp": p.timestamp,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_bytes": sum(s.memoryUsedBytes for s in state),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def settle(self, timeout_s: float = 10.0) -> None:
            """Wait until every started query's termination arrived."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if {r for r, _ in self.started} <= self.terminated:
                        return
                time.sleep(0.02)

    return _Listener()


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def read_event_log(path: str) -> dict:
    """Reduce an uncompressed event log to jobs, stages and task totals."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": ev["Submission Time"],
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["start_ms"] = info.get("Submission Time")
                st["end_ms"] = info.get("Completion Time")
                st["name"] = info.get("Stage Name", "")
                st["scopes"] = [r.get("Scope", "") for r in info.get("RDD Info", [])]
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["tasks"] += 1
                st["tasks_failed"] += 1 if info.get("Failed") else 0
                st["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
                st["shuffle_read_b"] += read
                st["shuffle_records_read"] += sr.get("Total Records Read", 0)
                st["task_read_b"].append(read)
                st["spill_b"] += m.get("Disk Bytes Spilled", 0)
                st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    for jid, job in jobs.items():
        for sid in job["stages"]:
            if sid in stages and stages[sid].get("job") is None and stages[sid]["tasks"]:
                stages[sid]["job"] = jid
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "job": None, "tasks": 0, "tasks_failed": 0, "task_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_b": 0, "shuffle_records_written": 0,
        "shuffle_read_b": 0, "shuffle_records_read": 0, "task_read_b": [],
        "spill_b": 0, "input_b": 0, "output_records": 0,
    }


def attach_spark_spans(tracer: Tracer, log: dict, listener) -> None:
    """Add spark.job, spark.stage and streaming.trigger spans under the
    benchmark span whose job group (or stream run id) launched them."""
    by_id = {sp["id"]: sp for sp in tracer.spans}
    ids = itertools.count(max(by_id, default=0) + 1)
    run_owner: dict[str, dict] = {}
    for run_id, t_ms in listener.started if listener else ():
        owner = _innermost(tracer.spans, t_ms, ("plans.build", "plans.exec"))
        if owner is not None:
            run_owner[run_id] = owner
    for p in listener.progress if listener else ():
        owner = run_owner.get(p["run_id"])
        if owner is None:
            continue
        start = _iso_ms(p["timestamp"])
        tracer.spans.append({
            "id": next(ids), "parent": owner["id"], "trace": owner["trace"],
            "name": "streaming.trigger", "start_ms": start,
            "end_ms": start + p["duration_ms"].get("triggerExecution", 0),
            "run_id": p["run_id"],
        })
    job_span: dict[int, dict] = {}
    for jid, job in sorted(log["jobs"].items()):
        group = job["group"] or ""
        owner = None
        if group.startswith("perfbench-"):
            owner = by_id.get(int(group.split("-", 1)[1]))
        elif group in run_owner:
            owner = run_owner[group]
        if owner is None or owner["trace"] is None or "end_ms" not in job:
            continue
        sp = {
            "id": next(ids), "parent": owner["id"], "trace": owner["trace"],
            "name": "spark.job", "start_ms": job["start_ms"], "end_ms": job["end_ms"],
            "spark_job": jid, "layer": by_id[owner["trace"]]["layer"],
        }
        tracer.spans.append(sp)
        job_span[jid] = sp
    for sid, st in sorted(log["stages"].items()):
        parent = job_span.get(st.get("job"))
        if parent is None or st.get("start_ms") is None or st.get("end_ms") is None:
            continue
        tracer.spans.append({
            "id": next(ids), "parent": parent["id"], "trace": parent["trace"],
            "name": "spark.stage", "start_ms": st["start_ms"], "end_ms": st["end_ms"],
            "stage": sid, "layer": parent["layer"],
        })


def _innermost(spans: list[dict], t_ms: float, names: tuple[str, ...]):
    best = None
    for sp in spans:
        if sp["name"] in names and sp["start_ms"] <= t_ms <= sp["end_ms"]:
            if best is None or sp["start_ms"] >= best["start_ms"]:
                best = sp
    return best


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span kind, the total duration not covered by child spans (s)."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = dict.fromkeys(SPAN_KINDS, 0.0)
    for sp in spans:
        if sp["name"] not in out:
            continue
        lo, hi = sp["start_ms"], sp["end_ms"]
        covered, cur = 0.0, lo
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], cur), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[sp["name"]] += max(hi - lo - covered, 0.0) / 1000.0
    return out


def layer_totals(log: dict, spans: list[dict], cores: int, n_passes: int) -> dict[str, float]:
    """Event-log totals per layer, per traced pass."""
    job_layer = {sp["spark_job"]: sp["layer"] for sp in spans if sp["name"] == "spark.job"}
    wall = dict.fromkeys(LAYERS, 0.0)
    for sp in spans:
        if sp["name"] == "job":
            wall[sp["layer"]] += (sp["end_ms"] - sp["start_ms"]) / 1000.0
    acc = {layer: dict.fromkeys(EVENT_TOTALS, 0.0) for layer in LAYERS}
    for st in log["stages"].values():
        layer = job_layer.get(st.get("job"))
        if layer not in acc:
            continue
        a = acc[layer]
        a["task_s"] += st["task_s"]
        a["cpu_s"] += st["cpu_s"]
        a["gc_s"] += st["gc_s"]
        a["shuffle_write_mb"] += st["shuffle_write_b"] / MB
        a["shuffle_read_mb"] += st["shuffle_read_b"] / MB
        a["spill_mb"] += st["spill_b"] / MB
        a["tasks"] += st["tasks"]
        a["tasks_failed"] += st["tasks_failed"]
    out = {}
    for layer, a in acc.items():
        a["cpu_util"] = a["cpu_s"] / (wall[layer] * cores) if wall[layer] else 0.0
        for k, v in a.items():
            out[f"{layer}.{k}"] = v if k == "cpu_util" else v / max(n_passes, 1)
    return out


def mr_counters(log: dict, spans: list[dict]) -> dict[str, float]:
    """MapReduce counters from the event log, medians over traced passes.

    - map_output_records: shuffle records word count's map stage writes.
      PySpark ships mapper lines to the JVM in pickled batches, so Spark
      counts batches; fewer or shorter mapper lines (a combiner) cut it.
    - reduce_ratio: word count's output lines per shuffle record its
      reducers read, the cost of running without a combiner;
    - reduce_skew: max / median shuffle-read bytes across the reduce tasks
      of a job, the worst job of the pass;
    - input_reshuffle_mb: shuffle bytes written by the repartition that
      ``run_lines`` inserts when the split count differs from M."""
    trace_of = {sp["spark_job"]: sp["trace"] for sp in spans
                if sp["name"] == "spark.job" and sp["layer"] == "mr"}
    mr_jobs = {sp["id"]: sp for sp in spans if sp["name"] == "job" and sp["layer"] == "mr"}
    per_exec: dict[int, list[dict]] = {}
    for st in log["stages"].values():
        trace = trace_of.get(st.get("job"))
        if trace is not None:
            per_exec.setdefault(trace, []).append(st)
    records, ratios, worst, reshuffle = [], [], {}, {}
    for trace, stages in per_exec.items():
        job = mr_jobs[trace]
        p = job["pass_no"]
        if job["job"] == "wordcount":
            written = sum(s["shuffle_records_written"] for s in stages if not _is_reshuffle(s))
            reduce_in = sum(s["shuffle_records_read"] for s in stages if s["output_records"])
            records.append(written)
            ratios.append(sum(s["output_records"] for s in stages) / reduce_in if reduce_in else 0.0)
        for s in stages:
            reads = s["task_read_b"]
            if s["output_records"] and len(reads) > 1 and statistics.median(reads) > 0:
                worst[p] = max(worst.get(p, 0.0), max(reads) / statistics.median(reads))
            if _is_reshuffle(s):
                reshuffle[p] = reshuffle.get(p, 0.0) + s["shuffle_write_b"] / MB
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {
        "mr.map_output_records": med(records),
        "mr.reduce_ratio": med(ratios),
        "mr.reduce_skew": med(list(worst.values())),
        "mr.input_reshuffle_mb": med(list(reshuffle.values())),
    }


def _is_reshuffle(stage: dict) -> bool:
    """The input stage of ``RDD.repartition``, which PySpark runs as
    ``coalesce(n, shuffle=True)``: it reads the input files and writes the
    shuffle (the stage after it reads that shuffle, and no files)."""
    return stage["input_b"] > 0 and stage["shuffle_write_b"] > 0 and any(
        '"coalesce"' in scope for scope in stage.get("scopes", []))


def streaming_metrics(listener, n_passes: int) -> dict[str, float]:
    """Trigger phase timings and state size, per traced pass."""
    prog = listener.progress if listener else []
    trig = sorted(p["duration_ms"].get("triggerExecution", 0) for p in prog)
    phase = lambda k: sum(p["duration_ms"].get(k, 0) for p in prog) / max(n_passes, 1)  # noqa: E731
    last: dict[str, dict] = {}
    for p in prog:
        last[p["run_id"]] = p
    return {
        "streaming.triggers": len(prog) / max(n_passes, 1),
        "streaming.trigger_p50_ms": statistics.median(trig) if trig else 0.0,
        "streaming.trigger_tail_ms": trig[-1] if trig else 0.0,
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.get_batch_ms": phase("getBatch"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.state_rows": sum(p["state_rows"] for p in last.values()) / max(n_passes, 1),
        "streaming.state_mem_mb": sum(p["state_bytes"] for p in last.values()) / MB / max(n_passes, 1),
    }


def find_event_log(directory: str) -> str:
    logs = [os.path.join(directory, f) for f in os.listdir(directory)]
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {logs}")
    return logs[0]
