"""Workload definitions.

``sql_stream`` runs registered queries: a cut of the relational family,
then a cut of the stream family, in a fixed order. Each cut is
one query per module of its family, picked so that it matches the whole
family, measured in one traced pass at sf0.01, on construction share of
query wall, jobs per query and median and mean query wall (figures and the
dropped queries in ``DESIGN.md``). ``churn_ml`` is the paper's
train-and-serve path (``churn.py``), configured by ``CHURN`` and
``SERVING``.
"""

from __future__ import annotations

import os

#: Corpus the query workload reads (the fixed sf0.01 tables, vendored).
CORPUS = "data/sf0.01"

#: Relational, event and statistics plans (8 of the 93 queries of
#: ``operators/{relational,relational_ext,tpch_extra,tpch_extra2,
#: tpch_extra3,events,temporal,stats,analytics}``).
SQL_QUERIES = [
    "large_quantity_orders",  # tpch_extra: join + aggregate
    "lineitem_distinct_stats",  # relational: distinct aggregates
    "dominant_part_suppliers",  # tpch_extra3: multi-way join
    "basket_brand_pairs",  # analytics: self-join pairs, 4 jobs at construction
    "purchase_last_view_asof",  # temporal: as-of join
    "priority_order_counts",  # tpch_extra2: semi-join aggregate
    "events_json_stats",  # events: JSON field statistics
    "events_gap_fill",  # stats: gap-filling window
]

#: AvailableNow stream replays from empty state roots (1 of the 25 queries
#: of ``streaming/{ingest,queries}`` plus ``pq_index_rebalanced``): a file
#: source ingest with a foreachBatch store upsert.
STREAM_QUERIES = ["stream_dedup_ingest_fps"]

#: The query workloads and their queries.
QUERY_WORKLOADS = {"sql_stream": SQL_QUERIES + STREAM_QUERIES}

#: Every workload; ``churn_ml`` is the train-and-serve path of ``churn.py``.
WORKLOADS = [*QUERY_WORKLOADS, "churn_ml"]

#: Queries run before timing, per workload, to load classes and compile the
#: relational path (none is timed), so that the first timed query does not
#: carry the JVM's start-up.
WARMUP = {"sql_stream": ["custkeys_only_finished"]}


def order(workload: str, seed: int) -> list[str]:
    """The run order: the relational queries, then the stream. It is fixed:
    in a seed-permuted order the order decided which queries paid for class
    loading and JIT, and the query median spread 0.32 (IQR over median)
    over five seeds."""
    return SQL_QUERIES + STREAM_QUERIES


#: churn_ml training: the paper config (``config/pipeline_config.yaml``)
#: with these trims. The paper grid is 4 + 24 + 24 = 52 points at 5 folds
#: over three families; a cold Spark ML fit costs seconds, so one
#: logistic-regression point at 2 folds is what fits a run. Explainability
#: is off: SHAP over the sample cost ~7 s a run in training, and one
#: /model/explain request 11-17 s in serving. The paper's
#: gates (f1 0.65, ROC AUC 0.70) reject every model this generator yields:
#: over seeds 11-30 at 1,000 rows the champion read f1 0.26-0.52 and ROC
#: AUC 0.55-0.75. The gates here are ROC AUC above chance and f1 0.10, so
#: that every seed promotes a champion and the serving step has a model.
CHURN = {
    "rows": 2000,
    "grid": {"logistic_regression": {"C": [1.0], "penalty": ["l2"], "max_iter": [5]}},
    "cv_folds": 2,
    "gates": {"min_f1_score": 0.10, "min_roc_auc": 0.50},
    "explainability": {"enabled": False},
}

#: churn_ml serving: a reference step (Poisson single-row /predict at
#: ``reference_rate`` and a 100-row /predict at ``batch_rate``), then
#: single-row /predict steps at each ladder rate. ``serve_max_rps`` is the
#: highest step rate whose p99 meets ``latency_limit_ms`` with no request
#: left waiting for a worker.
SERVING = {
    "reference_rate": 10,
    "reference_s": 6.0,
    "batch_rate": 0.5,
    "ladder_rates": [20, 40, 80],
    "ladder_s": 1.0,
    "workers": min(4, os.cpu_count() or 1),
    "latency_limit_ms": 100.0,
}
