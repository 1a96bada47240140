"""Iteration-loop scaling probe (VERDICT r15 ask #9): do the
driver-stepped loop families (CC, PageRank, BPE, EM, the recursive walk)
still run SLOWER on 32 cores than 8 at 10x the data, or was the sf0.1
inversion pure fixed-cost domination?

Builds a synthetic ~sf1 corpus under /tmp by replicating sf0.1 with
REPLICA-SALTED tokens: every token of replica r is suffixed ``_r``, so
each replica reproduces the original corpus's near-dup graph EXACTLY
(same shingle overlaps within a replica, zero shingle overlap across
replicas) — edges scale linearly with data, component diameters are
unchanged, and the loop-depth-vs-parallelism question is isolated from
graph-shape drift. events get replica-offset user/event ids (the walk's
per-user linked lists replicate). doc_id/user_id offsets stay far below
the 10^12 arg-min encoding bound.

Usage:
    python tools/loop_scale_bench.py build [--testdata DIR]       # write /tmp corpus
    python tools/loop_scale_bench.py run [cpus] [--testdata DIR]  # time the loop queries

DIR is the testdata root holding ``sf0.1`` (the replication source) and
``sf0.001`` (the warm pass). It defaults to the parent of the engine's
default sf dir ($SPARK_GRAFT_SF_DIR).

Run it twice (e.g. cpus=32 and cpus=8), paste the table into SCALING.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/spark_graft_sf1_loops"
REPLICAS = 10
OFF = 10**7

LOOP_QUERIES = [
    "near_dup_clusters",        # CC loop
    "near_dup_pagerank",        # 6 power iterations
    "bpe_trained_merges",       # 8 sequential merge rounds
    "unigram_vocab_em",         # EM rounds
    "events_steps_to_purchase", # recursive walk
]


def build(testdata: str) -> None:
    from pyspark.sql import functions as F

    from airflow_ml_pipeline_spark.session import get_spark

    base = os.path.join(testdata, "sf0.1")
    spark = get_spark("loop_scale_build", master="local[32]")
    rep = spark.range(REPLICAS).select(F.col("id").alias("r"))

    docs = spark.read.parquet(f"{base}/documents.parquet").crossJoin(rep)
    salted_text = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.concat(t, F.lit("_"), F.col("r").cast("string")),
        ),
        " ",
    )
    (
        docs.select(
            (F.col("doc_id") + F.col("r") * OFF).alias("doc_id"),
            "lang",
            "source",
            salted_text.alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("int"))
        .write.mode("overwrite")
        .parquet(f"{OUT}/documents.parquet")
    )
    ev = spark.read.parquet(f"{base}/events.parquet").crossJoin(rep)
    cols = [c for c in ev.columns if c not in ("r", "event_id", "user_id")]
    (
        ev.select(
            (F.col("event_id") + F.col("r") * OFF).alias("event_id"),
            (F.col("user_id") + F.col("r") * OFF).alias("user_id"),
            *cols,
        )
        .write.mode("overwrite")
        .parquet(f"{OUT}/events.parquet")
    )
    print(f"built {OUT}: documents x{REPLICAS}, events x{REPLICAS}")


def run(cpus: str, testdata: str) -> None:
    from airflow_ml_pipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("loop_scale_run", master=f"local[{cpus}]")
    qs = entrymod.queries()
    # small warm pass (codegen classes) on the real sf0.001 corpus
    for name in LOOP_QUERIES:
        qs[name](spark, os.path.join(testdata, "sf0.001")).write.format("noop").mode(
            "overwrite"
        ).save()
    results = []
    for name in LOOP_QUERIES:
        times = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, OUT).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        results.append((name, min(times), times))
        print(f"{name}@{cpus}cpu x10data: min {min(times):.2f}s {[round(t,2) for t in times]}")
    print("| query | cpus | min s |")
    for name, best, _ in results:
        print(f"| {name} | {cpus} | {best:.2f} |")


def main() -> None:
    from airflow_ml_pipeline_spark.sources.catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("build", "run"))
    ap.add_argument("cpus", nargs="?", default="32", help="run mode: local[cpus]")
    ap.add_argument(
        "--testdata",
        default=os.path.dirname(DEFAULT_SF_DIR),
        help="testdata root holding sf0.1 and sf0.001",
    )
    args = ap.parse_args()
    if not os.path.isdir(args.testdata):
        ap.error(f"testdata root not found: {args.testdata}")
    if args.mode == "build":
        build(args.testdata)
    else:
        run(args.cpus, args.testdata)


if __name__ == "__main__":
    main()
