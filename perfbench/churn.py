"""churn_ml: the paper's train-and-serve dataflow, driven as a user drives it.

Training calls ``plans.pipeline.run_pipeline`` with the paper's
``config/pipeline_config.yaml``, trimmed by ``workloads.CHURN``, with every
path pointed into the run's state directory. Serving loads the promoted
champion with ``operators.deployment.create_flask_app`` behind a real HTTP
server in this process (``pooled_server``); ``loadgen.py``, a process of its
own, sends it a seeded open-loop schedule (``workloads.SERVING``): a
reference step of single-row and 100-row ``/predict``, then single-row
``/predict`` steps at rising rates.

In traced runs the stage functions that ``plans.pipeline`` imports, the
Java estimator fits and the app's view functions are wrapped from here.
"""

from __future__ import annotations

import json
import logging
import os
import random
import subprocess
import sys
import threading
import time

import workloads as W
from stats import interquartile_mean, percentile, tail

HERE = os.path.dirname(os.path.abspath(__file__))

#: Stage functions ``plans.pipeline`` imports, and the span each is timed as.
STAGES = {
    "ingest_data": "pipeline.ingest",
    "build_features": "pipeline.features",
    "stratified_split": "pipeline.split",
    "train_all_models": "pipeline.train",
    "evaluate_all_models": "pipeline.evaluate",
    "compute_shap_values": "pipeline.explain",
    "promote_model": "pipeline.promote",
}

def pipeline_config(root: str, state: str, seed: int) -> dict:
    """The paper config with ``workloads.CHURN``'s trims, seeded, writing
    only under ``state``."""
    from airflow_ml_pipeline_spark.config import load_config

    c = W.CHURN
    cfg = load_config(os.path.join(root, "config", "pipeline_config.yaml"))
    cfg["data"].update(n_samples=c["rows"], random_state=seed,
                       raw_data_path=os.path.join(state, "data", "raw_customers.csv"),
                       processed_data_path=os.path.join(state, "data", "processed.csv"))
    models = cfg["training"]["models"]
    for name, model in models.items():
        model["enabled"] = name in c["grid"]
        if name in c["grid"]:
            model["params"] = c["grid"][name]
    cfg["training"].update(cv_folds=c["cv_folds"], random_state=seed)
    cfg["evaluation"].update(c["gates"])
    cfg["explainability"].update(c["explainability"])
    cfg["deployment"].update(
        champion_model_path=os.path.join(state, "models", "champion"),
        model_registry_path=os.path.join(state, "models", "registry"))
    cfg["mlflow"]["tracking_uri"] = os.path.join(state, "mlruns")
    return cfg


def schedule(seed: int) -> tuple[list, list, list]:
    """Arrivals ``[offset_s, path, body]`` in time order, for each its
    ``(step, kind)``, and each step's ``(name, single-row rate)``. Bodies
    0..99 are single rows; body 100 is all of them."""
    s = W.SERVING
    rng = random.Random(seed)
    ref = s["reference_rate"]
    steps = [("reference", ref, s["reference_s"])]
    steps += [("ladder", rate, s["ladder_s"]) for rate in s["ladder_rates"]]
    out, t = [], 0.0
    for i, (name, rate, seconds) in enumerate(steps):
        x = t
        while (x := x + rng.expovariate(rate)) < t + seconds:
            out.append(([x, "/predict", rng.randrange(100)], (i, "predict")))
        if name == "reference":
            n = int(seconds * s["batch_rate"])
            out += [([t + (k + 0.5) / s["batch_rate"], "/predict", 100], (i, "predict100"))
                    for k in range(n)]
        t += seconds
    out.sort(key=lambda a: a[0][0])
    return [a for a, _ in out], [m for _, m in out], [(n, r) for n, r, _ in steps]


def pooled_server(app, workers: int):
    """A WSGI server on a free local port that serves requests on a fixed
    pool of threads, as a threaded production server (gunicorn's gthread
    workers) does. werkzeug's own threaded server starts a thread per
    request, and PySpark gives each new Python thread a new gateway
    connection and JVM thread."""
    from concurrent.futures import ThreadPoolExecutor

    from werkzeug.serving import BaseWSGIServer

    class PooledWSGIServer(BaseWSGIServer):
        multithread = True

        def __init__(self) -> None:
            super().__init__("127.0.0.1", 0, app)
            self.pool = ThreadPoolExecutor(workers)

        def process_request(self, request, client_address) -> None:
            self.pool.submit(self.handle_in_pool, request, client_address)

        def handle_in_pool(self, request, client_address) -> None:
            try:
                self.finish_request(request, client_address)
            except Exception:  # noqa: BLE001 - socketserver's own policy
                self.handle_error(request, client_address)
            finally:
                self.shutdown_request(request)

        def server_close(self) -> None:
            self.pool.shutdown(wait=True)
            super().server_close()

    return PooledWSGIServer()


class Churn:
    """One churn_ml run: ``train()`` and ``serve()`` are the timed phase,
    ``check()`` runs after it."""

    def __init__(self, run) -> None:
        self.run = run
        self.cfg = pipeline_config(run.root, run.state, run.seed)
        self.handler_s: dict[int, float] = {}
        self.fits = 0

    # ------------------------------------------------------------ training
    def train(self) -> float:
        from airflow_ml_pipeline_spark.plans import pipeline

        if self.run.traced:
            self._wrap_stages(pipeline)
        t0 = time.time()
        with self.run.span("pipeline"):
            self.result = pipeline.run_pipeline(self.run.spark, config=self.cfg)
        wall = time.time() - t0
        champion = os.path.join(self.cfg["deployment"]["champion_model_path"], "metadata.json")
        if not self.result.get("success") or not os.path.exists(champion):
            raise RuntimeError(f"run_pipeline promoted no champion: {self.result}")
        return wall

    def _wrap_stages(self, pipeline) -> None:
        from pyspark.ml.wrapper import JavaEstimator

        for name, span in STAGES.items():
            fn = getattr(pipeline, name)

            def timed(*a, _fn=fn, _span=span, **k):
                with self.run.span(_span):
                    return _fn(*a, **k)

            setattr(pipeline, name, timed)
        fit = JavaEstimator._fit_java
        lock = threading.Lock()

        def counted(est, dataset):
            with lock:
                self.fits += 1
            return fit(est, dataset)

        JavaEstimator._fit_java = counted

    # ------------------------------------------------------------- serving
    def serve(self) -> None:
        from airflow_ml_pipeline_spark.operators.deployment import create_flask_app

        logging.getLogger("werkzeug").setLevel(logging.ERROR)
        self.bodies = self._payload()
        t0 = time.time()
        with self.run.span("serving.load"):
            app = create_flask_app(self.run.spark, self.cfg)
        self.load_s = time.time() - t0
        if self.run.traced:
            self._wrap_views(app)
        self.arrivals, self.meta, self.steps = schedule(self.run.seed)
        srv = pooled_server(app, W.SERVING["workers"])
        server = threading.Thread(target=srv.serve_forever)
        server.start()
        plan = {"port": srv.server_port, "workers": W.SERVING["workers"],
                "bodies": self.bodies, "arrivals": self.arrivals}
        try:
            with self.run.span("serving"):
                gen = subprocess.run(
                    [sys.executable, os.path.join(HERE, "loadgen.py")],
                    input=json.dumps(plan), capture_output=True, text=True, timeout=150)
        finally:
            srv.shutdown()
            server.join()
            srv.server_close()
        if gen.returncode != 0:
            raise RuntimeError(f"load generator failed: {gen.stderr[-400:]}")
        self.gen = json.loads(gen.stdout)

    def _payload(self) -> list:
        """100 customer rows of the pipeline's own raw data, without the
        label, as single-row bodies, and all of them as one batch body."""
        from airflow_ml_pipeline_spark.schemas import CUSTOMERS
        from airflow_ml_pipeline_spark.sources.catalog import read_csv

        raw = read_csv(self.run.spark, self.cfg["data"]["raw_data_path"], CUSTOMERS)
        rows = [r.asDict() for r in raw.drop("churn").limit(100).collect()]
        return rows + [rows]

    def _wrap_views(self, app) -> None:
        from flask import request

        view = app.view_functions["predict_endpoint"]

        def timed(*a, **k):
            t = time.perf_counter()
            try:
                return view(*a, **k)
            finally:
                self.handler_s[int(request.headers["X-Req"])] = time.perf_counter() - t

        app.view_functions["predict_endpoint"] = timed

    # -------------------------------------------------------------- checks
    def check(self) -> None:
        """Every reply is a 200 of the documented shape, and every /predict
        answer equals the Spark batch path's (``deployment.predict_proba``)
        for its rows. A failed request also counts as missing the latency
        limit. (``train`` has already failed the run if ``run_pipeline``
        promoted no champion.)"""
        want = self._batch_scores()
        for i, (late, lat, status, reply) in enumerate(self.gen["results"]):
            _, path, body = self.arrivals[i]
            why = self._reply_error(path, body, status, reply, want)
            if why:
                self.run.fail(f"{path}#{i}", why)
                self.gen["results"][i][1] = float("inf")

    def _batch_scores(self) -> list[tuple[int, float]]:
        from airflow_ml_pipeline_spark.operators.deployment import (
            load_champion,
            predict_proba,
        )
        from airflow_ml_pipeline_spark.schemas import CUSTOMERS_INPUT

        model, pre, _ = load_champion(self.run.spark, self.cfg)
        df = self.run.spark.createDataFrame(self.bodies[100], schema=CUSTOMERS_INPUT)
        rows = predict_proba(model, pre, df).select("prediction", "probability_1").collect()
        return [(int(r.prediction), float(r.probability_1)) for r in rows]

    def _reply_error(self, path, body, status, reply, want) -> str | None:
        if status != 200:
            return f"status {status}: {str(reply)[:200]}"
        idx = list(range(100)) if body == 100 else [body]
        preds, probs = reply.get("predictions"), reply.get("probabilities")
        if not (isinstance(preds, list) and isinstance(probs, list)
                and len(preds) == len(probs) == len(idx)):
            return f"predict reply shape {str(reply)[:200]}"
        for k, p, q in zip(idx, preds, probs):
            if p != want[k][0] or abs(q - want[k][1]) > 1e-6:
                return f"row {k}: served ({p}, {q}) batch path {want[k]}"
        return None

    # ------------------------------------------------------------- metrics
    def serving_summary(self) -> dict:
        """Latency per step and kind (ms, from the time each request was
        due), the highest rate that holds, and generator health."""
        s = W.SERVING
        res = self.gen["results"]
        by: dict[tuple[int, str], list[float]] = {}
        for (step, kind), r in zip(self.meta, res):
            by.setdefault((step, kind), []).append(1000 * r[1])
        steps, holds = {}, []
        for i, (name, rate) in enumerate(self.steps):
            lat = by.get((i, "predict"), [])
            backlog = self.gen["backlog_at"][max(j for j, m in enumerate(self.meta) if m[0] == i)]
            p99 = percentile(lat, 99)
            steps[f"{name}@{rate}"] = {"n": len(lat), "p50_ms": percentile(lat, 50),
                                       "p99_ms": p99, "backlog_at_end": backlog}
            if p99 <= s["latency_limit_ms"] and backlog <= s["workers"]:
                holds.append(rate)
        ref = by[(0, "predict")]
        return {
            "predict_iqm_ms": interquartile_mean(ref),
            "predict_p50_ms": percentile(ref, 50),
            "predict_p99_ms": percentile(ref, 99),
            "predict_tail_ms": tail(ref),
            "predict100_p50_ms": percentile(by.get((0, "predict100"), []), 50),
            "serve_max_rps": max(holds, default=0),
            "steps": steps,
            "load_s": self.load_s,
            "backlog_max": self.gen["backlog_max"],
            "gen_late_p99_ms": percentile([1000 * r[0] for r in res], 99),
            "gen_cpu_s": self.gen["cpu_s"],
        }

    def layers(self) -> dict[str, float]:
        """The traced run's pipeline and serving metrics."""
        tr = self.run.tracer
        out = {f"{span}_s": tr.total(span) for span in STAGES.values()}
        out["pipeline.fits"] = self.fits
        out["serving.load_s"] = tr.total("serving.load")
        summary = self.serving_summary()
        ref = [i for i, m in enumerate(self.meta) if m == (0, "predict")]
        batch = [i for i, m in enumerate(self.meta) if m == (0, "predict100")]
        res = self.gen["results"]
        out["serving.predict_handler_ms"] = percentile(
            [1000 * self.handler_s[i] for i in ref if i in self.handler_s], 50)
        out["serving.predict100_handler_ms"] = percentile(
            [1000 * self.handler_s[i] for i in batch if i in self.handler_s], 50)
        out["serving.queue_ms"] = percentile(
            [1000 * (res[i][1] - self.handler_s[i]) for i in ref if i in self.handler_s], 50)
        out["serving.backlog_max"] = summary["backlog_max"]
        out["serving.gen_late_ms"] = summary["gen_late_p99_ms"]
        return out

