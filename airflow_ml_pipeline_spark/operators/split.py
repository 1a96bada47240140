"""Split / sampling operators (SURVEY.md §2.6 P1-P3).

Spark has no native stratified split (randomSplit is per-row Bernoulli), so
stratification is a window-rank construction: rank rows per class by a
seeded random key, then cut each class at exactly its proportion — the same
guarantee sklearn's ``train_test_split(stratify=y)`` gives
(/root/reference/src/ml_pipeline/run_pipeline.py:53-55).

One shuffle (the per-class window); deterministic under the seed.

Where the partitions go: the window exchange hashes rows by label alone,
so each class lands in one of the ``spark.sql.shuffle.partitions`` (32 in
the engine session) and the rest stay empty. AQE coalesces empty
partitions away on an uncached plan, but a cached frame keeps its physical
partitioning (``canChangeCachedPlanOutputPartitioning`` is false), so the
pipeline's cached train/test/fold frames held 32 partitions of which 2 had
rows, and every job over them (each L-BFGS iteration, each CV fold filter,
each evaluation) paid 30 tasks for nothing. Both operators therefore end
in ``coalesce(1)``: narrow and after the window, so it adds no exchange and
moves no row between train and test. One partition, not one per class:
the label-only window already runs each class through a single task, and
``coalesce(2)`` groups neighbouring partitions, so it would still put both
populated partitions (18 and 29 for a 0/1 label at 32) into one task.

The trade: the single partition gives up the two-class parallelism. The
window's sort of both classes (above the coalesce, in the same stage) and
every later pass over the cached frames run in one task, not two. On
4 cores ``run_pipeline`` with the benchmark's trimmed grid still went from
a median 44.5 s to 29.4 s at the paper's 10,000 rows (4 pairs), as at the
benchmark's 2,000; larger inputs were not measured.

Scale note: the label-only window is itself the limiter at 100 TB (one
task per class sorts the whole class, whatever the coalesce does after it).
Replacing it with a distributed per-class rank is out of scope here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def stratified_split(
    df: DataFrame, label_col: str, test_size: float = 0.2, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Exact per-class train/test split. Returns (train, test)."""
    w = Window.partitionBy(label_col).orderBy(F.rand(seed))
    n = Window.partitionBy(label_col)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(n)
    )
    is_test = F.col("__rk") <= F.round(F.col("__n") * test_size)
    # coalesce(1): see the module docstring (right-sizes the cached frames)
    test = ranked.filter(is_test).drop("__rk", "__n").coalesce(1)
    train = ranked.filter(~is_test).drop("__rk", "__n").coalesce(1)
    return train, test


def stratified_fold_column(
    df: DataFrame, label_col: str, n_folds: int, seed: int = 42, fold_col: str = "fold"
) -> DataFrame:
    """Add a stratified fold assignment (0..n_folds-1) for
    CrossValidator(foldCol=...) — Spark CV is not stratified natively
    (SURVEY.md §2.7 T6); ntile over a seeded per-class order is."""
    w = Window.partitionBy(label_col).orderBy(F.rand(seed))
    return df.withColumn(fold_col, F.ntile(n_folds).over(w) - 1).coalesce(1)


def sample_exact(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """Uniform sample without replacement of exactly ``n`` rows (P2;
    explainability background sampling, reference explainability.py:63-72).
    orderBy(rand).limit is exact; at 100 TB prefer df.sample(fraction) which
    avoids the global sort at the cost of approximate size."""
    return df.orderBy(F.rand(seed)).limit(n)
