"""Feature engineering: derived features (F1-F5) and a sklearn-parity
scaling/encoding preprocessor (E1-E9). Reference:
/root/reference/src/ml_pipeline/feature_engineering.py.

Design stance (SURVEY.md §7.0): the preprocessor is a plain fitted object
holding aggregate statistics (means/stds/quantiles/category sets) that
compiles to *column expressions* at transform time — features stay ordinary
columns, not an opaque vector, so every downstream query/inspection stays
columnar and codegen'd. A ``VectorAssembler`` step happens only at the edge
of Spark ML training (operators/training.py). Fitting = one wide aggregate
job (scaler statistics and category sets; ``build_features`` adds the
frozen high_value quantile to it, and the optional outlier clip runs its
own stats aggregate before it); transform = zero-shuffle projection;
persistence = a small JSON doc (replaces joblib, SURVEY.md §2.1 S5).

sklearn-parity traps handled (SURVEY.md §7.3):
- one-hot basis: categories sorted ascending, FIRST dropped, unknown at
  transform → all-zeros (sklearn OneHotEncoder(drop="first",
  handle_unknown="ignore")) — NOT Spark ML's frequency-ordered dropLast;
- feature names: ``num__<col>`` / ``cat__<col>_<value>`` exactly like
  ColumnTransformer.get_feature_names_out();
- z-clip uses sample std (ddof=1) = Spark stddev_samp;
- high_value quantile is batch-local in the reference (a train/serve skew
  bug, feature_engineering.py:83); we freeze the fitted quantile in the
  preprocessor and reuse it at serving — deliberate, documented deviation.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TENURE_BUCKETS = [
    (0, 6, "0-6m"),
    (6, 12, "6-12m"),
    (12, 24, "1-2y"),
    (24, 48, "2-4y"),
    (48, 72, "4-6y"),
]


def _tenure_bucket(c: Column) -> Column:
    """pd.cut parity (feature_engineering.py:76-81): right-closed intervals
    (lo, hi], out-of-range (including 0) → the literal string 'nan'."""
    expr = None
    for lo, hi, label in TENURE_BUCKETS:
        cond = (c > lo) & (c <= hi)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr.otherwise(F.lit("nan"))


def _high_value_quantile() -> Column:
    """The high_value cut: exact 75th percentile of monthly_charges with
    linear interpolation (= pandas quantile(0.75))."""
    return F.percentile("monthly_charges", F.lit(0.75))


def add_engineered_features(
    df: DataFrame, high_value_threshold: float | None = None
) -> DataFrame:
    """F1-F4 (feature_engineering.py:57-93). ``high_value_threshold=None``
    reproduces the reference's batch-local 75th-percentile behavior; passing
    the frozen fit-time threshold gives the corrected serving path."""
    if high_value_threshold is None:
        high_value_threshold = df.agg(_high_value_quantile()).collect()[0][0]
    return _engineer(
        df, (F.col("monthly_charges") > F.lit(high_value_threshold)).cast("int")
    )


def _engineer(df: DataFrame, high_value: Column | None) -> DataFrame:
    """F1-F4 as columns; ``high_value=None`` leaves high_value out (the
    fit path, where no fitted column reads it)."""
    df = df.withColumn(
        "charge_per_tenure",
        F.when(
            F.col("tenure") > 0, F.col("total_charges") / F.col("tenure")
        ).otherwise(F.col("monthly_charges")),
    ).withColumn("tenure_bucket", _tenure_bucket(F.col("tenure")))
    if high_value is not None:
        df = df.withColumn("high_value", high_value)
    return df.withColumn(
        "support_intensity",
        F.when(
            F.col("tenure") > 0,
            F.col("num_support_tickets") / F.col("tenure"),
        ).otherwise(F.col("num_support_tickets").cast("double")),
    )


def engineered_row(row: dict, high_value_threshold: float | None) -> dict:
    """Pure-Python twin of ``add_engineered_features`` for the driver-side
    serving fast path (operators/deployment.py): one REST request must not
    pay a Spark job launch just to derive four scalars. Kept adjacent to
    the column-expression version so parity edits happen together;
    tests/test_serving_http.py asserts the two paths score identically."""
    tenure = row["tenure"]
    monthly = row["monthly_charges"]
    out = dict(row)
    out["charge_per_tenure"] = (
        row["total_charges"] / tenure if tenure > 0 else monthly
    )
    label = "nan"
    for lo, hi, lab in TENURE_BUCKETS:
        if lo < tenure <= hi:
            label = lab
            break
    out["tenure_bucket"] = label
    if high_value_threshold is not None:
        out["high_value"] = int(monthly > high_value_threshold)
    out["support_intensity"] = (
        row["num_support_tickets"] / tenure
        if tenure > 0
        else float(row["num_support_tickets"])
    )
    return out


def clip_outliers(df: DataFrame, columns: list[str], threshold: float) -> DataFrame:
    """F5 z-score clip to mean ± threshold*std (sample std, ddof=1), skipped
    when std == 0 (feature_engineering.py:161-176). One aggregate job for
    every column, then a zero-shuffle projection."""
    cols = [c for c in columns if c in df.columns]
    if not cols:
        return df
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"{c}__m"), F.stddev_samp(c).alias(f"{c}__s")]
    stats = df.agg(*aggs).collect()[0].asDict()
    for c in cols:
        m, s = stats[f"{c}__m"], stats[f"{c}__s"]
        if s is not None and s > 0:
            lo, hi = m - threshold * s, m + threshold * s
            df = df.withColumn(
                c, F.least(F.lit(hi), F.greatest(F.lit(lo), F.col(c)))
            )
    return df


@dataclass
class Preprocessor:
    """Fitted scaling + one-hot encoding transformer (E1-E9).

    Holds only small aggregate statistics; ``transform`` compiles them into
    column expressions. JSON-serializable (save/load)."""

    scaling_method: str
    numerical_cols: list[str]
    categorical_cols: list[str]
    scaler_stats: dict = field(default_factory=dict)  # col -> (center, scale)
    categories: dict = field(default_factory=dict)  # col -> sorted values
    high_value_threshold: float | None = None
    fitted: bool = False

    def fit(self, df: DataFrame) -> "Preprocessor":
        """One wide aggregate, one collect: scaler statistics and the
        category set of every categorical column (collect_set; tiny
        results)."""
        aggs = self.fit_aggregates()
        return self.fit_stats(df.agg(*aggs).collect()[0].asDict() if aggs else {})

    def fit_aggregates(self) -> list[Column]:
        """The aggregate columns ``fit_stats`` reads, for a caller that
        folds more statistics into the same collect."""
        aggs = []
        for c in self.numerical_cols:
            if self.scaling_method == "minmax":
                aggs += [F.min(c).alias(f"{c}__a"), F.max(c).alias(f"{c}__b")]
            elif self.scaling_method == "robust":
                aggs += [
                    F.percentile(c, F.lit(0.5)).alias(f"{c}__a"),
                    (F.percentile(c, F.lit(0.75)) - F.percentile(c, F.lit(0.25))).alias(
                        f"{c}__b"
                    ),
                ]
            else:  # standard
                aggs += [
                    F.avg(c).alias(f"{c}__a"),
                    F.stddev_pop(c).alias(f"{c}__b"),  # sklearn StandardScaler uses ddof=0
                ]
        aggs += [F.collect_set(c).alias(f"{c}__set") for c in self.categorical_cols]
        return aggs

    def fit_stats(self, stats: dict) -> "Preprocessor":
        """Fit from the collected ``fit_aggregates`` row (as a dict)."""
        for c in self.numerical_cols:
            a, b = stats[f"{c}__a"], stats[f"{c}__b"]
            if self.scaling_method == "minmax":
                center, scale = a, (b - a) if (b - a) != 0 else 1.0
            else:
                center, scale = a, b if b not in (None, 0) else 1.0
            self.scaler_stats[c] = (float(center), float(scale))

        for c in self.categorical_cols:
            self.categories[c] = sorted(
                str(v) for v in stats[f"{c}__set"] if v is not None
            )

        self.fitted = True
        return self

    @property
    def feature_names(self) -> list[str]:
        """ColumnTransformer.get_feature_names_out parity: numeric block
        first (num__col), then per-categorical dummies in sorted category
        order with the first dropped (cat__col_value)."""
        names = [f"num__{c}" for c in self.numerical_cols]
        for c in self.categorical_cols:
            names += [f"cat__{c}_{v}" for v in self.categories[c][1:]]
        return names

    def transform(self, df: DataFrame) -> DataFrame:
        """Zero-shuffle projection producing exactly the feature columns (in
        feature_names order) plus any passthrough columns requested by the
        caller via select afterwards."""
        if not self.fitted:
            raise ValueError("preprocessor must be fitted before transform")
        out = []
        for c in self.numerical_cols:
            center, scale = self.scaler_stats[c]
            if self.scaling_method == "minmax":
                expr = (F.col(c) - center) / scale
            else:
                expr = (F.col(c) - center) / scale
            out.append(expr.alias(f"num__{c}"))
        for c in self.categorical_cols:
            for v in self.categories[c][1:]:
                out.append(
                    (F.col(c).cast("string") == v).cast("double").alias(f"cat__{c}_{v}")
                )
        passthrough = [F.col(c) for c in df.columns if c in ("churn",)]
        return df.select(*out, *passthrough)

    def transform_row(self, row: dict) -> list[float]:
        """Pure-Python twin of ``transform`` for one (engineered) row —
        same feature order as ``feature_names``. Serving fast path only;
        parity with the column-expression path is test-asserted."""
        if not self.fitted:
            raise ValueError("preprocessor must be fitted before transform")
        vec = []
        for c in self.numerical_cols:
            center, scale = self.scaler_stats[c]
            vec.append((float(row[c]) - center) / scale)
        for c in self.categorical_cols:
            s = str(row[c])
            for v in self.categories[c][1:]:
                vec.append(1.0 if s == v else 0.0)
        return vec

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "scaling_method": self.scaling_method,
                    "numerical_cols": self.numerical_cols,
                    "categorical_cols": self.categorical_cols,
                    "scaler_stats": self.scaler_stats,
                    "categories": self.categories,
                    "high_value_threshold": self.high_value_threshold,
                },
                f,
                indent=2,
            )

    @classmethod
    def load(cls, path: str) -> "Preprocessor":
        with open(path) as f:
            d = json.load(f)
        p = cls(
            scaling_method=d["scaling_method"],
            numerical_cols=d["numerical_cols"],
            categorical_cols=d["categorical_cols"],
        )
        p.scaler_stats = {k: tuple(v) for k, v in d["scaler_stats"].items()}
        p.categories = d["categories"]
        p.high_value_threshold = d["high_value_threshold"]
        p.fitted = True
        return p


ENGINEERED_NUMERICAL = ["charge_per_tenure", "support_intensity"]
ENGINEERED_CATEGORICAL = ["tenure_bucket"]


def build_features(
    df: DataFrame,
    config: dict,
    fit: bool = True,
    preprocessor: Preprocessor | None = None,
) -> tuple[DataFrame, Preprocessor, list[str]]:
    """Full feature step (feature_engineering.py:96-146): optional outlier
    clip → engineered features → fit-or-apply preprocessor.

    Returns (features_df, preprocessor, feature_names); features_df carries
    the scaled/encoded columns plus the target when present. Error contract
    preserved: transform without a preprocessor raises ValueError
    ("preprocessor must be provided when fit=False")."""
    feature_cfg = config["features"]

    if feature_cfg.get("handle_outliers", False):
        df = clip_outliers(
            df, feature_cfg["numerical"], feature_cfg.get("outlier_threshold", 3.0)
        )

    # NB: high_value is engineered but NOT in the transformer lists — the
    # reference's ColumnTransformer(remainder="drop") silently drops it
    # (feature_engineering.py:120-121,46-52); we match that feature basis.
    numerical = feature_cfg["numerical"] + ENGINEERED_NUMERICAL
    categorical = feature_cfg["categorical"] + ENGINEERED_CATEGORICAL

    if fit:
        # One collect fits the preprocessor and freezes the fit-batch
        # high_value quantile for serving (documented deviation from the
        # reference's batch-local recompute). high_value itself is not
        # engineered here: no fitted column reads it and transform drops it.
        df = _engineer(df, None)
        preprocessor = Preprocessor(
            scaling_method=feature_cfg.get("scaling_method", "standard"),
            numerical_cols=numerical,
            categorical_cols=categorical,
        )
        stats = df.agg(
            *preprocessor.fit_aggregates(),
            _high_value_quantile().alias("__high_value"),
        ).collect()[0].asDict()
        preprocessor.fit_stats(stats)
        preprocessor.high_value_threshold = stats["__high_value"]
    else:
        if preprocessor is None:
            raise ValueError("preprocessor must be provided when fit=False")
        df = add_engineered_features(
            df, high_value_threshold=preprocessor.high_value_threshold
        )

    features_df = preprocessor.transform(df)
    return features_df, preprocessor, preprocessor.feature_names
