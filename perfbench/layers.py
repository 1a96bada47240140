"""Traced-run instrumentation, all of it outside the engine's package.

- ``Tracer`` keeps spans (name, start, end, parent, attributes; one trace id
  per run) and counts in memory and writes them out when the run ends.
- ``SqlProbe`` reads Catalyst phase times from a ``QueryExecutionListener``
  and the JVM's total codegen compile time.
- ``StreamProbe`` is a ``StreamingQueryListener`` that files micro-batch
  progress under the query that started the stream.
- ``parse_event_log`` folds Spark's event log into per-job stage and task
  counters, tagged with each job's group and submission time.
- ``pyworker_cpu`` reads the CPU time of the Python worker processes.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import uuid
from collections import defaultdict

from procstat import snapshot, tree_usage


class Tracer:
    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by the span's children."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"trace_id": self.trace_id, **s}) + "\n")
            f.write(json.dumps({"trace_id": self.trace_id, "counts": self.counts}) + "\n")


class SqlProbe:
    """Catalyst phase times of every query execution, via a JVM
    ``QueryExecutionListener`` implemented over the py4j callback server."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.plan_s = 0.0  # analysis + optimization + planning, summed
        self._lock = threading.Lock()
        self._codegen = (
            spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def codegen_s(self) -> float:
        return self._codegen.compileTime() / 1e9

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        it = phases.keySet().iterator()
        total_ms = 0
        while it.hasNext():
            total_ms += phases.get(it.next()).get().durationMs()
        with self._lock:
            self.plan_s += total_ms / 1000


def make_stream_probe(current: dict):
    """A StreamingQueryListener that files each stream under
    ``current["query"]`` at the moment the stream starts (``onQueryStarted``
    runs synchronously inside ``start()``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            self.owner: dict[str, str] = {}  # runId -> query name
            self.progress: dict[str, list[dict]] = defaultdict(list)

        def onQueryStarted(self, event) -> None:  # noqa: N802
            self.owner[str(event.runId)] = current.get("query") or "?"

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            self.progress[self.owner.get(p["runId"], "?")].append(p)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return StreamProbe()


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    last_state: dict[tuple[str, int], dict] = {}
    for p in progress:
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.empty_batches"] += p.get("numInputRows", 0) == 0
        out["streaming.input_rows"] += p.get("numInputRows", 0)
        out["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
        out["streaming.plan_s"] += d.get("queryPlanning", 0) / 1000
        out["streaming.offsets_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000
        out["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
        for i, op in enumerate(p.get("stateOperators") or []):
            out["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1000
            last_state[(p["runId"], i)] = op
    for op in last_state.values():
        out["streaming.state_rows"] += op.get("numRowsTotal", 0)
        out["streaming.state_mb"] += op.get("memoryUsedBytes", 0) / 2**20
    return out


def parse_event_log(path: str) -> dict[int, dict]:
    """One record per Spark job: its job group, submission time (epoch s)
    and the ``exec.*`` counters of its stages and tasks. A stage counts as
    skipped in a job that lists it but did not run it (its output was
    reused from an earlier job, or never needed)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    submitted: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = defaultdict(float)
                job["exec.jobs"] = 1
                job["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "?"
                job["submitted"] = ev.get("Submission Time", 0) / 1000
                job["stage_ids"] = list(ev.get("Stage IDs", []))
                jobs[ev["Job ID"]] = job
                for sid in job["stage_ids"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid not in submitted and sid in stage_job:
                    submitted.add(sid)
                    jobs[stage_job[sid]]["exec.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                job["exec.tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job["exec.tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                job["exec.run_s"] += m.get("Executor Run Time", 0) / 1000
                job["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000
                job["exec.scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                sr = m.get("Shuffle Read Metrics") or {}
                job["exec.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                job["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                job["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    for jid, job in jobs.items():
        job["exec.stages_skipped"] = sum(
            1 for sid in job.pop("stage_ids") if stage_job[sid] != jid or sid not in submitted
        )
    return jobs


def pyworker_cpu() -> float:
    """CPU seconds of the PySpark worker daemons and the workers they fork
    (forked workers share the daemon's command line, so only the topmost
    matching process of each tree is summed)."""
    stats = snapshot()
    daemons = set()
    for pid in stats:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark/daemon" in cmd:
            daemons.add(pid)
    return sum(tree_usage(p, stats)[0] for p in daemons if stats[p][1] not in daemons)
