"""Benchmark harness for the engine's queries and its train-and-serve path.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run is one fresh process on ``local[<cores>]``. It starts the engine's
session (and warms it up where the workload asks), runs the workload from
empty state roots, checks every output outside the timed region, and prints
a detail line and then, as the last line, ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` the run records spans and
counters at each layer boundary and the metrics are the per-layer ones.

The query workloads drive the engine through ``__spark_entry__.queries()``,
each query ending in a noop sink and checked against its DuckDB oracle.
``churn_ml`` drives it through ``plans.pipeline.run_pipeline`` and
``operators.deployment.create_flask_app`` (see ``churn.py``).

Everything a run writes goes under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from churn import Churn  # noqa: E402
from layers import (  # noqa: E402
    SqlProbe,
    Tracer,
    make_stream_probe,
    parse_event_log,
    pyworker_cpu,
    stream_metrics,
)
from procstat import ProcTreeSampler, alive, descendants  # noqa: E402
from stats import interquartile_mean, percentile, tail  # noqa: E402

CORES = os.cpu_count() or 1

#: Spans that also count the codegen compile time and Python worker CPU
#: spent inside them.
COUNTED_SPANS = {"construct", "sink", "pipeline", "serving"}


def load_spec() -> tuple[dict[str, str], list[str], list[str]]:
    """Units of every metric, and the end-to-end and per-layer names, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return (units, [m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.root = ROOT
        self.units, self.end_to_end, self.per_layer = load_spec()
        self.work = os.path.join(ROOT, ".perfbench")
        self.state = os.path.join(self.work, "state")
        self.corpus = os.path.join(HERE, W.CORPUS)
        self.failures: list[dict] = []
        self.attempted = 0
        self.e2e: dict[str, float] = {}
        self.detail: dict = {"workload": self.workload, "seed": self.seed,
                             "traced": self.traced}
        self.current: dict = {"query": None}
        self.tracer = Tracer() if self.traced else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A tracer span in traced runs (nothing otherwise)."""
        if not self.traced:
            yield
            return
        counted = name in COUNTED_SPANS
        if counted:
            c0, w0 = self.sql_probe.codegen_s(), pyworker_cpu()
        try:
            with self.tracer.span(name, **attrs):
                yield
        finally:
            if counted:
                self.tracer.count("sql.codegen_s", self.sql_probe.codegen_s() - c0)
                self.tracer.count("exec.pyworker_cpu_s", pyworker_cpu() - w0)

    def fail(self, op: str, what: str) -> None:
        self.failures.append({"op": op, "error": what[:400]})

    def job_group(self, name: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)

    # ---------------------------------------------------------------- setup
    def environment(self) -> None:
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # every JVM the launcher starts: temp files inside the checkout, no
        # /tmp/hsperfdata_<user> counters file, and the C1 compiler only: a
        # run is about a minute of a cold JVM, in which C2 compile threads
        # took 40-60% of the process tree's CPU and added 15-30% to the wall
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")
        os.environ["PYTHONWARNINGS"] = "ignore"
        sys.path.insert(0, ROOT)

    def setup(self) -> None:
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            self.eventlog = os.path.join(self.work, f"eventlog-{os.getpid()}")
            os.makedirs(self.eventlog)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.eventlog,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        with self.span("session.start"):
            from airflow_ml_pipeline_spark.session import get_spark

            self.spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload in W.QUERY_WORKLOADS:
            import __spark_entry__

            self.queries = __spark_entry__.queries()
            self.oracles = __spark_entry__.oracle_sql()
        with self.span("session.warm"):
            for name in W.WARMUP.get(self.workload, []):
                self.sink(self.queries[name](self.spark, self.corpus))
        self.reset_state()
        self.e2e["setup_s"] = process_age()
        if self.traced:
            self.sql_probe = SqlProbe(self.spark)
            self.stream_probe = make_stream_probe(self.current)
            self.spark.streams.addListener(self.stream_probe)

    def reset_state(self) -> None:
        """Empty the run's state directory and point the engine's persisted
        stores (ingest stores, stream staging, rollup stage) into it, so
        every store is written cold."""
        from airflow_ml_pipeline_spark.operators import temporal
        from airflow_ml_pipeline_spark.streaming import ingest, sources

        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(self.state)
        ingest.INGEST_ROOT = os.path.join(self.state, "ingest")
        sources.STAGE_ROOT = os.path.join(self.state, "stream")
        temporal._ROLLUP_STAGE = os.path.join(self.state, "rollup")

    @staticmethod
    def sink(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ----------------------------------------------------------- timed phase
    def end_timed_phase(self, t0: float, t1: float) -> None:
        self.window = (t0, t1)
        if self.traced:  # the executions so far are the timed phase's
            self.drain_listeners()
            self.plan_s = self.sql_probe.plan_s
        self.current["query"] = None
        self.job_group("check")

    def run_queries(self) -> None:
        names = W.order(self.workload, self.seed)
        self.detail["order"] = names
        latency, frames = {}, {}
        sampler = ProcTreeSampler().start()
        t0 = time.time()
        for name in names:
            q0 = time.time()
            df = self.run_query(name)
            if df is not None:
                latency[name] = time.time() - q0
                frames[name] = df
        t1 = time.time()
        sampler.stop()
        self.end_timed_phase(t0, t1)
        self.attempted = len(names)
        self.check(frames)
        lat = list(latency.values())
        self.e2e.update(
            wall_s=t1 - t0,
            op_iqm_ms=1000 * interquartile_mean(lat),
            cpu_s=sampler.cpu_s,
        )
        self.detail.update(
            query_s={k: round(v, 4) for k, v in latency.items()},
            query_p50_ms=1000 * percentile(lat, 50) if lat else None,
            query_p90_ms=1000 * percentile(lat, 90) if lat else None,
            query_tail_s=tail(lat),
            peak_rss_mb=sampler.peak_rss_mb,
        )

    def run_query(self, name: str):
        """Construct one registered query and sink it; None on failure."""
        self.current["query"] = name
        try:
            with self.span("query", query=name):
                with self.span("construct", query=name):
                    self.job_group(f"{name}/construct")
                    df = self.queries[name](self.spark, self.corpus)
                with self.span("sink", query=name):
                    self.job_group(f"{name}/sink")
                    self.sink(df)
        except Exception as e:  # noqa: BLE001 - a failed query is a result
            self.fail(name, f"run: {e!r}")
            return None
        return df

    def check(self, frames: dict) -> None:
        """Hash-match each query's last output against its DuckDB oracle.
        Every listed query has one; the registry's rows-only queries are
        not in any list."""
        from airflow_ml_pipeline_spark.schemas import TABLE_NAMES
        from oracle import OracleCache, summary

        cache = OracleCache(self.corpus, TABLE_NAMES, os.path.join(self.work, "oracle.json"))
        try:
            for name, df in frames.items():
                try:
                    got = summary(list(df.columns), df.collect())
                except Exception as e:  # noqa: BLE001
                    self.fail(name, f"collect: {e!r}")
                    continue
                if name not in self.oracles:
                    self.fail(name, "no oracle")
                    continue
                want = cache.expected(self.oracles[name])
                if got != want:
                    self.fail(name, f"oracle mismatch: spark {got} duckdb {want}")
        finally:
            cache.close()

    def run_churn(self) -> None:
        """Train with ``run_pipeline``, then serve the champion to the load
        generator. ``wall_s`` is the pipeline; ``cpu_s`` covers both, less
        the generator's own CPU."""
        churn = self.churn = Churn(self)
        sampler = ProcTreeSampler().start()
        t0 = time.time()
        pipeline_s = churn.train()
        churn.serve()
        t1 = time.time()
        sampler.stop()
        self.end_timed_phase(t0, t1)
        churn.check()
        self.attempted = 1 + len(churn.arrivals)
        serving = churn.serving_summary()
        self.e2e.update(
            wall_s=pipeline_s,
            op_iqm_ms=serving["predict_iqm_ms"],
            cpu_s=sampler.cpu_s - serving["gen_cpu_s"],
        )
        self.detail.update(
            pipeline_s=pipeline_s,
            pipeline={k: churn.result[k] for k in ("champion", "metrics")},
            serving=serving,
            peak_rss_mb=sampler.peak_rss_mb,
        )

    # --------------------------------------------------------------- traced
    def collect_layers(self) -> dict[str, float]:
        tr = self.tracer
        t0, t1 = self.window
        L = {
            "session.start_s": tr.total("session.start"),
            "session.warm_s": tr.total("session.warm"),
            "trace.wall_s": self.e2e["wall_s"],
            "sql.plan_s": self.plan_s,
            "sql.codegen_s": tr.counts["sql.codegen_s"],
            "exec.pyworker_cpu_s": tr.counts["exec.pyworker_cpu_s"],
        }
        jobs = parse_event_log(self.eventlog_file())
        timed = [j for j in jobs.values() if t0 <= j["submitted"] < t1]
        for job in timed:
            for key, value in job.items():
                if key.startswith("exec."):
                    L[key] = L.get(key, 0.0) + value
        L["exec.busy_frac"] = L.get("exec.run_s", 0.0) / ((t1 - t0) * CORES)
        if self.workload == "churn_ml":
            L.update(self.churn_layers(timed))
        else:
            L.update(self.query_layers(timed))
        return L

    def churn_layers(self, timed: list[dict]) -> dict[str, float]:
        tr = self.tracer
        (span,) = tr.named("pipeline")
        out = self.churn.layers()
        out["pipeline.jobs"] = sum(1 for j in timed if span["start"] <= j["submitted"] < span["end"])
        out["trace.unaccounted_frac"] = tr.self_time(span) / (span["end"] - span["start"])
        return out

    def query_layers(self, timed: list[dict]) -> dict[str, float]:
        tr = self.tracer
        owner = self.stream_probe.owner
        per_query: dict[str, dict] = {}
        for q in tr.named("query"):
            name = q["query"]
            kids = {s["name"]: s for s in tr.spans if s["parent"] == q["id"]}
            row = per_query[name] = {
                "wall_s": q["end"] - q["start"],
                "unaccounted_s": tr.self_time(q),
            }
            for part in ("construct", "sink"):
                span = kids.get(part)
                row[f"{part}_s"] = span["end"] - span["start"] if span else 0.0
            groups = {f"{name}/construct"} | {r for r, o in owner.items() if o == name}
            row["construct_jobs"] = sum(1 for j in timed if j["group"] in groups)
            row["sink_jobs"] = sum(1 for j in timed if j["group"] == f"{name}/sink")
            row.update(stream_metrics(self.stream_probe.progress.get(name, [])))
        walls = sum(r["wall_s"] for r in per_query.values())
        out = {
            "operators.construct_s": sum(r["construct_s"] for r in per_query.values()),
            "operators.construct_jobs": sum(r["construct_jobs"] for r in per_query.values()),
            "exec.sink_s": sum(r["sink_s"] for r in per_query.values()),
            "trace.unaccounted_frac": (
                sum(r["unaccounted_s"] for r in per_query.values()) / walls if walls else 0.0),
        }
        out.update(stream_metrics([p for name in per_query
                                   for p in self.stream_probe.progress.get(name, [])]))
        for name in W.STREAM_QUERIES:
            if name in per_query and per_query[name].get("streaming.batches", 0) == 0:
                self.fail(name, "cold ingest ran no micro-batch: the store was not cold")
        self.detail["per_query"] = per_query
        return out

    def drain_listeners(self) -> None:
        """Wait until Spark's listener bus has delivered every event so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def eventlog_file(self) -> str:
        (name,) = os.listdir(self.eventlog)
        return os.path.join(self.eventlog, name)

    # ------------------------------------------------------------ lifecycle
    def execute(self) -> dict:
        self.environment()
        try:
            self.setup()
            if self.workload == "churn_ml":
                self.run_churn()
            else:
                self.run_queries()
            if self.traced:
                self.drain_listeners()
        finally:
            self.shutdown()
        walls_path = os.path.join(self.work, f"walls-{self.workload}.txt")
        if self.traced:
            metrics = dict.fromkeys(self.per_layer, 0.0)
            layers = self.collect_layers()
            unknown = set(layers) - set(metrics)
            if unknown:
                raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
            metrics.update(layers)
            self.tracer.write(os.path.join(self.work, f"trace-{self.workload}-{self.seed}.jsonl"))
            untraced = _read_floats(walls_path)[-10:]
            if untraced:
                self.detail["trace_overhead_s"] = (
                    self.e2e["wall_s"] - statistics.median(untraced))
        else:
            with open(walls_path, "a") as f:
                f.write(f"{self.e2e['wall_s']}\n")
            metrics = {k: self.e2e[k] for k in self.end_to_end}
        self.detail["failures"] = self.failures
        self.detail["failed_frac"] = len(self.failures) / self.attempted
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": self.units[k]} for k, v in metrics.items()},
        }

    def shutdown(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for each."""
        spawned = descendants(os.getpid())[1:]
        if getattr(self, "spark", None) is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = gateway.proc
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(map(alive, spawned)):
            time.sleep(0.1)
        for pid in filter(alive, spawned):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _read_floats(path: str) -> list[float]:
    try:
        with open(path) as f:
            return [float(x) for x in f.read().split()]
    except OSError:
        return []


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # the measured work is each workload's fixed list, sized to BENCHMARK.json's
    # run_seconds; the argument is part of the benchmark's command interface
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("__spark_entry__.py", "airflow_ml_pipeline_spark")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found in {ROOT}: {missing}", file=sys.stderr)
        return 2
    run = Run(args)
    result = run.execute()
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
