"""Measure a whole query family against the cut of it that sql_stream runs.

Usage (from the repository root; one traced pass, a few minutes):

    python3 perfbench/family.py sql|stream

Runs every query of the family once, in registry order, in one traced run
of the harness (state roots emptied first, outputs checked), and prints for
the whole family and for the cut in ``workloads.py`` the construction share
of query wall, jobs per query, and the median and mean query wall. The cuts
were picked to match these figures.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

import run
import workloads as W

SQL_MODULES = {"relational", "relational_ext", "tpch_extra", "tpch_extra2", "tpch_extra3",
               "events", "temporal", "stats", "analytics"}


def members(family: str) -> list[str]:
    import __spark_entry__
    from airflow_ml_pipeline_spark.plans import registry

    def where(name: str) -> tuple[str, str]:
        package, module = registry.QUERIES[name].__module__.split(".")[-2:]
        return package, module

    names = list(__spark_entry__.queries())
    if family == "sql":
        return [n for n in names if where(n) in {("operators", m) for m in SQL_MODULES}]
    streams = [n for n in names if where(n) in {("streaming", "ingest"), ("streaming", "queries")}]
    return streams + ["pq_index_rebalanced"]


def figures(rows: list[dict]) -> dict[str, float]:
    walls = [r["wall_s"] for r in rows]
    return {
        "queries": len(rows),
        "construct_share": sum(r["construct_s"] for r in rows) / sum(walls),
        "jobs_per_query": sum(r["construct_jobs"] + r["sink_jobs"] for r in rows) / len(rows),
        "median_query_s": statistics.median(walls),
        "mean_query_s": statistics.mean(walls),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("family", choices=("sql", "stream"))
    args = ap.parse_args()
    sys.path.insert(0, run.ROOT)
    names = members(args.family)
    W.order = lambda workload, seed: names
    bench = run.Run(argparse.Namespace(workload="sql_stream", seed=0, trace=1))
    result = bench.execute()
    per_query = bench.detail["per_query"]
    cut = W.SQL_QUERIES if args.family == "sql" else W.STREAM_QUERIES
    print(json.dumps({
        "failures": bench.detail["failures"],
        "family": figures(list(per_query.values())),
        "cut": figures([per_query[n] for n in cut]),
        "per_query": per_query,
    }))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
