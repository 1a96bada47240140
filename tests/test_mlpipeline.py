"""ML-pipeline tests — port of the reference's contract checks
(/root/reference/tests/, SURVEY.md §5.1): shapes, key names, error
types/messages, orderings, ranges. Generator reproducibility is weakened to
same-seed-same-session determinism + distributional assertions (SURVEY.md
§5.1 note).
"""

from __future__ import annotations

import ast
import json
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from airflow_ml_pipeline_spark.operators import (
    deployment,
    evaluation,
    explainability,
    features,
    generate,
    split,
    training,
    validate,
)

N = 600


@pytest.fixture(scope="module")
def mini_config(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pipeline")
    return {
        "data": {
            "n_samples": N,
            "test_size": 0.2,
            "random_state": 42,
            "raw_data_path": str(tmp / "raw.csv"),
            "processed_data_path": str(tmp / "processed.csv"),
        },
        "features": {
            "numerical": [
                "tenure",
                "monthly_charges",
                "total_charges",
                "num_support_tickets",
                "avg_monthly_usage_gb",
            ],
            "categorical": ["contract_type", "payment_method", "internet_service"],
            "target": "churn",
            "scaling_method": "standard",
            "handle_outliers": True,
            "outlier_threshold": 3.0,
        },
        "training": {
            "models": {
                "logistic_regression": {
                    "enabled": True,
                    "params": {"C": [1.0], "penalty": ["l2"], "max_iter": [50]},
                },
                "random_forest": {
                    "enabled": True,
                    "params": {"n_estimators": [10], "max_depth": [5]},
                },
                "xgboost": {"enabled": False, "params": {}},
            },
            "cv_folds": 2,
            "scoring_metric": "f1",
            "random_state": 42,
        },
        "evaluation": {
            "metrics": ["accuracy", "precision", "recall", "f1", "roc_auc"],
            "min_f1_score": 0.3,
            "min_roc_auc": 0.3,
            "comparison_metric": "f1",
        },
        "deployment": {
            "model_registry_path": str(tmp / "registry"),
            "champion_model_path": str(tmp / "champion"),
            "serving_port": 8099,
            "min_performance_threshold": 0.3,
        },
        "mlflow": {"experiment_name": "test", "tracking_uri": str(tmp / "mlruns")},
        "explainability": {"enabled": True, "sample_size": 100, "max_display_features": 5},
    }


@pytest.fixture(scope="module")
def customers(spark):
    return generate.generate_synthetic_data(spark, n_samples=N, random_state=42).cache()


# --- generation --------------------------------------------------------------


def test_generator_shape_and_domains(customers):
    assert customers.columns == generate.EXPECTED_COLUMNS
    assert customers.count() == N
    row = customers.agg(
        F.min("tenure"), F.max("tenure"), F.min("monthly_charges"),
        F.max("monthly_charges"), F.min("total_charges"),
    ).collect()[0]
    assert 1 <= row[0] and row[1] <= 72
    assert 18 <= row[2] and row[3] <= 120
    assert row[4] >= 0
    cats = {r[0] for r in customers.select("contract_type").distinct().collect()}
    assert cats == {"month-to-month", "one-year", "two-year"}
    churn_vals = {r[0] for r in customers.select("churn").distinct().collect()}
    assert churn_vals <= {0, 1}


def test_generator_deterministic_same_session(spark, customers):
    again = generate.generate_synthetic_data(spark, n_samples=N, random_state=42)
    assert customers.exceptAll(again).count() == 0
    assert again.exceptAll(customers).count() == 0


def test_generator_distributions(customers):
    """Statistical contract: churn rate plausible, poisson mean near 1.5."""
    row = customers.agg(
        F.avg("churn"), F.avg("num_support_tickets"),
        F.avg((F.col("internet_service") == "none").cast("double")),
    ).collect()[0]
    assert 0.1 < row[0] < 0.7
    assert 1.2 < row[1] < 1.8
    assert 0.1 < row[2] < 0.35


# --- validation --------------------------------------------------------------


def test_validate_passes_on_generated(customers):
    result = validate.validate_data(customers)
    assert result["passed"] is True
    assert set(result["checks"]) == {
        "no_missing_values", "no_duplicates", "schema_valid", "tenure_range",
        "charges_positive", "target_binary", "class_balance", "sufficient_samples",
    }


def test_validate_raises_with_failed_check_names(spark, customers):
    bad = customers.withColumn(
        "monthly_charges",
        F.when(F.col("tenure") < 10, F.lit(None).cast("double")).otherwise(
            F.col("monthly_charges")
        ),
    )
    with pytest.raises(ValueError, match="no_missing_values"):
        validate.validate_data(bad)


def _failed_checks(df) -> set[str]:
    try:
        validate.validate_data(df)
    except ValueError as e:
        return set(ast.literal_eval(str(e).split(": ", 1)[1]))
    return set()


def test_no_duplicates_matches_drop_duplicates(spark, customers):
    """V2 is a distinct count inside the one validation aggregate; its
    verdict must match dropDuplicates(), which groups null fields as equal
    (a duplicated row that contains a null is still a duplicate)."""
    rows = [tuple(r) for r in customers.orderBy(*customers.columns).limit(150).collect()]
    with_null = tuple(
        None if c == "payment_method" else v for c, v in zip(customers.columns, rows[0])
    )
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in customers.schema]
    )
    cases = {
        "clean": (rows, False),
        "duplicated row": (rows + [rows[0]], True),
        "row with a null, no duplicate": (rows + [with_null], False),
        "duplicated row with a null": (rows + [with_null, with_null], True),
    }
    for name, (data, duplicated) in cases.items():
        df = spark.createDataFrame(data, schema)
        assert (df.dropDuplicates().count() != df.count()) == duplicated, name
        assert ("no_duplicates" in _failed_checks(df)) == duplicated, name


def test_target_binary_flags_a_non_binary_label(customers):
    """A label outside {0, 1} fails target_binary; a null label does not
    (it is a missing value, not a third class)."""
    assert "target_binary" not in _failed_checks(customers)
    three = customers.withColumn(
        "churn", F.when(F.col("tenure") == 1, F.lit(2)).otherwise(F.col("churn"))
    )
    assert "target_binary" in _failed_checks(three)
    nulled = customers.withColumn(
        "churn", F.when(F.col("tenure") == 1, F.lit(None)).otherwise(F.col("churn"))
    )
    assert _failed_checks(nulled) == {"no_missing_values"}


def test_drift_profile_shape(customers):
    prof = validate.drift_profile(customers, ["tenure", "monthly_charges"])
    assert prof["n_rows"] == N
    assert set(prof["columns"]) == {"tenure", "monthly_charges"}
    assert prof["columns"]["tenure"]["null_fraction"] == 0.0
    assert "target_rate" in prof


# --- features ----------------------------------------------------------------


def test_engineered_features_exist_no_nulls(customers):
    out = features.add_engineered_features(customers)
    new_cols = {"charge_per_tenure", "tenure_bucket", "high_value", "support_intensity"}
    assert new_cols <= set(out.columns)
    assert set(customers.columns) <= set(out.columns)
    nulls = out.select(
        [F.sum(F.col(c).isNull().cast("int")).alias(c) for c in new_cols]
    ).collect()[0]
    assert all(v == 0 for v in nulls)


def test_tenure_bucket_pd_cut_parity(spark):
    df = spark.createDataFrame(
        [(0,), (1,), (6,), (7,), (12,), (24,), (48,), (72,), (80,)], ["tenure"]
    ).withColumns(
        {
            "total_charges": F.lit(100.0),
            "monthly_charges": F.lit(50.0),
            "num_support_tickets": F.lit(1),
        }
    )
    out = {
        r.tenure: r.tenure_bucket
        for r in features.add_engineered_features(df, high_value_threshold=60.0).collect()
    }
    # pd.cut(bins=[0,6,12,24,48,72]): right-closed, 0 and 80 out of range
    assert out == {
        0: "nan", 1: "0-6m", 6: "0-6m", 7: "6-12m", 12: "6-12m",
        24: "1-2y", 48: "2-4y", 72: "4-6y", 80: "nan",
    }


def test_build_features_fit_transform_parity(customers, mini_config):
    fdf, prep, names = features.build_features(customers, mini_config, fit=True)
    assert fdf.columns == names + ["churn"]
    assert prep.feature_names == names
    # sklearn naming convention
    assert "num__tenure" in names
    assert any(n.startswith("cat__contract_type_") for n in names)
    # sorted categories, first dropped
    assert "cat__contract_type_month-to-month" not in names
    # transform mode produces the same columns
    fdf2, _, names2 = features.build_features(
        customers, mini_config, fit=False, preprocessor=prep
    )
    assert names2 == names
    assert fdf2.columns == fdf.columns


def test_build_features_requires_preprocessor(customers, mini_config):
    with pytest.raises(ValueError, match="preprocessor must be provided when fit=False"):
        features.build_features(customers, mini_config, fit=False)


def test_preprocessor_roundtrip(customers, mini_config, tmp_path):
    _, prep, names = features.build_features(customers, mini_config, fit=True)
    path = str(tmp_path / "prep.json")
    prep.save(path)
    loaded = features.Preprocessor.load(path)
    assert loaded.feature_names == names
    assert loaded.scaler_stats == prep.scaler_stats
    assert loaded.high_value_threshold == prep.high_value_threshold


def test_standard_scaling_zero_mean_unit_std(customers, mini_config):
    fdf, _, _ = features.build_features(customers, mini_config, fit=True)
    row = fdf.agg(
        F.avg("num__tenure"), F.stddev_pop("num__tenure")
    ).collect()[0]
    assert abs(row[0]) < 1e-9
    assert abs(row[1] - 1.0) < 1e-6


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a fresh job group."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_preprocessor_fit_is_one_collect_matching_per_column_path(spark):
    """The fit folds the category sets into the scaler aggregate: same
    statistics as one aggregate plus one distinct() per categorical column,
    from the jobs of a single collect. Nulls are dropped and categories
    sorted as strings."""
    df = spark.createDataFrame(
        [(30.0, "b", 2), (18.5, None, 1), (99.0, "a", None), (70.0, "c", 2),
         (18.5, "a", 10), (55.0, "b", 1)],
        "monthly_charges double, k string, n int",
    )
    prep = features.Preprocessor("standard", ["monthly_charges"], ["k", "n"])
    fit_jobs = _jobs_launched(spark, lambda: prep.fit(df))

    m, s = df.agg(F.avg("monthly_charges"), F.stddev_pop("monthly_charges")).collect()[0]
    assert prep.scaler_stats == {"monthly_charges": (m, s)}
    assert prep.categories == {
        c: sorted(str(r[0]) for r in df.select(c).distinct().collect() if r[0] is not None)
        for c in ("k", "n")
    }
    assert prep.categories == {"k": ["a", "b", "c"], "n": ["1", "10", "2"]}
    assert prep.high_value_threshold is None
    one_collect = _jobs_launched(spark, lambda: df.agg(F.count(F.lit(1))).collect())
    assert fit_jobs == one_collect


def test_build_features_freezes_threshold_of_clipped_frame(spark, customers, mini_config):
    """The frozen threshold comes out of the preprocessor's fit aggregate;
    it is still the 75th percentile of the (outlier-clipped) fit batch, and
    the fit path is two collects: the clip statistics, then the fit."""
    cfg = mini_config["features"]
    assert cfg["handle_outliers"]
    out = {}
    fit_jobs = _jobs_launched(
        spark, lambda: out.update(prep=features.build_features(customers, mini_config, fit=True)[1])
    )
    clipped = features.clip_outliers(
        customers, cfg["numerical"], cfg["outlier_threshold"]
    )
    assert out["prep"].high_value_threshold == clipped.agg(
        F.percentile("monthly_charges", F.lit(0.75))
    ).collect()[0][0]
    one_collect = _jobs_launched(spark, lambda: customers.agg(F.count(F.lit(1))).collect())
    assert fit_jobs == 2 * one_collect


# --- split -------------------------------------------------------------------


def test_stratified_split_exact_proportions(customers):
    train, test = split.stratified_split(customers, "churn", test_size=0.2, seed=42)
    for label in (0, 1):
        n = customers.filter(F.col("churn") == label).count()
        n_test = test.filter(F.col("churn") == label).count()
        assert n_test == round(n * 0.2)
    assert train.count() + test.count() == N


def test_split_frames_are_one_partition_with_the_window_rows(customers):
    """Both split outputs and the fold frame stay single-partition when
    cached (a cached plan keeps its partitioning; AQE does not coalesce it),
    and the coalesce moves no row: train/test and the fold labels are
    exactly those of the same window without it."""
    train, test = split.stratified_split(customers, "churn", test_size=0.2, seed=42)
    folded = split.stratified_fold_column(customers, "churn", 3, seed=1)
    frames = [f.cache() for f in (train, test, folded)]
    try:
        assert [f.rdd.getNumPartitions() for f in frames] == [1, 1, 1]
    finally:
        for f in frames:
            f.unpersist()

    ranked = customers.withColumn(
        "__rk", F.row_number().over(Window.partitionBy("churn").orderBy(F.rand(42)))
    ).withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("churn")))
    is_test = F.col("__rk") <= F.round(F.col("__n") * 0.2)

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    assert rows(test) == rows(ranked.filter(is_test).drop("__rk", "__n"))
    assert rows(train) == rows(ranked.filter(~is_test).drop("__rk", "__n"))
    unfolded = customers.withColumn(
        "fold",
        F.ntile(3).over(Window.partitionBy("churn").orderBy(F.rand(1))) - 1,
    )
    assert rows(folded) == rows(unfolded)


def test_stratified_folds_balanced(customers):
    folded = split.stratified_fold_column(customers, "churn", 3, seed=1)
    counts = {
        (r.churn, r.fold): r["count"]
        for r in folded.groupBy("churn", "fold").count().collect()
    }
    assert {f for (_, f) in counts} == {0, 1, 2}
    for label in (0, 1):
        per_fold = [v for (y, _), v in counts.items() if y == label]
        assert max(per_fold) - min(per_fold) <= 1


# --- training / evaluation ---------------------------------------------------


@pytest.fixture(scope="module")
def trained(spark, customers, mini_config):
    fdf, prep, names = features.build_features(customers, mini_config, fit=True)
    ml_df = training.assemble(fdf, names)
    train_df, test_df = split.stratified_split(ml_df, "label", 0.2, 42)
    models = training.train_all_models(train_df.cache(), mini_config)
    return models, train_df, test_df.cache(), prep, names


def test_train_all_respects_enabled_flags(trained):
    models, *_ = trained
    assert set(models) == {"logistic_regression", "random_forest"}
    for info in models.values():
        assert info["cv_results"]["best_cv_score"] > 0


def test_unknown_model_raises(trained):
    _, train_df, *_ = trained
    with pytest.raises(ValueError, match="Unknown model: nope"):
        training.train_model("nope", train_df, {})


def test_best_params_use_sklearn_names(trained):
    models, *_ = trained
    assert models["logistic_regression"]["cv_results"]["best_params"] == {
        "C": 1.0, "penalty": "l2", "max_iter": 50,
    }


def test_evaluate_model_metric_contract(trained):
    models, _, test_df, *_ = trained
    scores = evaluation.evaluate_model(models["logistic_regression"]["model"], test_df)
    for m in ("accuracy", "precision", "recall", "f1", "roc_auc"):
        assert 0.0 <= scores[m] <= 1.0, m
    cm = scores["confusion_matrix"]
    assert len(cm) == 2 and len(cm[0]) == 2
    assert sum(sum(r) for r in cm) == test_df.count()
    report = scores["classification_report"]
    assert {"0", "1", "accuracy", "macro avg", "weighted avg"} <= set(report)


def test_metric_subset_honored(trained):
    models, _, test_df, *_ = trained
    scores = evaluation.evaluate_model(
        models["logistic_regression"]["model"], test_df, ["accuracy", "f1"]
    )
    floats = {k for k, v in scores.items() if isinstance(v, float)}
    assert floats == {"accuracy", "f1"}


def test_champion_selection_argmax_and_thresholds(mini_config):
    scores = {
        "a": {"metrics": {"f1": 0.7, "roc_auc": 0.8}},
        "b": {"metrics": {"f1": 0.9, "roc_auc": 0.85}},
    }
    name, _ = evaluation.select_champion(scores, mini_config)
    assert name == "b"
    strict = {**mini_config, "evaluation": {**mini_config["evaluation"], "min_f1_score": 0.95}}
    assert evaluation.select_champion(scores, strict) is None


def test_evaluation_report_shape(trained, mini_config, tmp_path):
    models, _, test_df, *_ = trained
    all_scores = evaluation.evaluate_all_models(models, test_df, mini_config)
    path = str(tmp_path / "report.json")
    evaluation.save_evaluation_report(all_scores, "logistic_regression", path)
    with open(path) as f:
        report = json.load(f)
    assert report["champion"] == "logistic_regression"
    assert set(report["models"]) == set(models)
    assert all(
        isinstance(v, (int, float))
        for m in report["models"].values()
        for v in m.values()
    )


# --- explainability ----------------------------------------------------------


def test_lr_occlusion_equals_analytic_shap(spark, trained, mini_config):
    """For LR in margin space, occlusion attribution must equal
    coef_j * (x_j - mean_j) — the analytic LinearExplainer values."""
    models, _, test_df, prep, names = trained
    model = models["logistic_regression"]["model"]
    # rebuild columnar features from the assembled vector
    from pyspark.ml.functions import vector_to_array

    cols = test_df.select(vector_to_array("features").alias("arr")).select(
        *[F.col("arr")[j].alias(n) for j, n in enumerate(names)]
    )
    no_sampling = {**mini_config, "explainability": {"sample_size": 10**6}}
    result = explainability.compute_shap_values(model, cols, names, no_sampling)
    mus = cols.agg(*[F.avg(n).alias(n) for n in names]).collect()[0].asDict()
    coefs = model.coefficients.toArray()
    joined = result["shap_values"].collect()
    assert len(joined) > 0
    for r in joined[:20]:
        for j, n in enumerate(names):
            expected = coefs[j] * (r[n] - mus[n])
            assert abs(r[f"contrib_{j}"] - expected) < 1e-6


def test_feature_importance_sorted_topn(trained, mini_config):
    models, _, test_df, prep, names = trained
    from pyspark.ml.functions import vector_to_array

    cols = test_df.select(vector_to_array("features").alias("arr")).select(
        *[F.col("arr")[j].alias(n) for j, n in enumerate(names)]
    )
    result = explainability.compute_shap_values(
        models["logistic_regression"]["model"], cols, names, mini_config
    )
    imp = explainability.generate_feature_importance(
        result["shap_values"], names, max_features=5
    )
    assert len(imp) == 5
    vals = [i["importance"] for i in imp]
    assert vals == sorted(vals, reverse=True)


def test_native_importance_for_trees(trained):
    models, *_ , names = trained
    imp = explainability.native_feature_importance(
        models["random_forest"]["model"], names
    )
    assert imp is not None and len(imp) == len(names)
    assert explainability.native_feature_importance(
        models["logistic_regression"]["model"], names
    ) is None


def test_explain_single_prediction_contract(spark, trained, mini_config, customers):
    models, _, _, prep, names = trained
    model = models["logistic_regression"]["model"]
    one = customers.drop("churn").limit(1)
    result = explainability.explain_single_prediction(
        model, prep, one, names, mini_config
    )
    assert isinstance(result, dict)
    assert result["prediction"] in (0, 1)
    assert 0.0 <= result["probability"] <= 1.0
    mags = [abs(c["contribution"]) for c in result["contributions"]]
    assert mags == sorted(mags, reverse=True)
    three = customers.drop("churn").limit(3)
    result3 = explainability.explain_single_prediction(
        model, prep, three, names, mini_config
    )
    assert isinstance(result3, list) and len(result3) == 3


# --- deployment --------------------------------------------------------------


def test_promote_load_roundtrip_and_archive(spark, trained, mini_config, customers):
    import pathlib

    models, _, test_df, prep, names = trained
    model = models["logistic_regression"]["model"]
    metrics = {"f1": 0.8, "roc_auc": 0.85, "notes": "drop-me"}

    path1 = deployment.promote_model(model, prep, "logistic_regression", metrics, names, mini_config)
    # second promotion archives exactly one prior champion
    deployment.promote_model(model, prep, "logistic_regression", metrics, names, mini_config)
    parent = pathlib.Path(path1).parent
    archives = [d for d in parent.iterdir() if d.name.startswith("archive_")]
    assert len(archives) == 1

    loaded_model, loaded_prep, metadata = deployment.load_champion(spark, mini_config)
    assert metadata["model_name"] == "logistic_regression"
    assert metadata["metrics"] == {"f1": 0.8, "roc_auc": 0.85}
    assert metadata["feature_names"] == names
    assert loaded_prep.feature_names == prep.feature_names

    preds = deployment.predict(loaded_model, loaded_prep, customers.drop("churn").limit(10))
    vals = [int(r.prediction) for r in preds.collect()]
    assert len(vals) == 10 and set(vals) <= {0, 1}


def test_load_champion_missing_raises(spark, mini_config, tmp_path):
    cfg = {
        **mini_config,
        "deployment": {**mini_config["deployment"], "champion_model_path": str(tmp_path / "nope")},
    }
    with pytest.raises(FileNotFoundError):
        deployment.load_champion(spark, cfg)


def test_explain_single_with_frozen_background(spark, trained, mini_config, customers):
    """With frozen training means as background, a 1-row explanation has
    NONZERO contributions equal to coef_j * (x_j - mu_j) for LR — unlike the
    reference-parity default where a single row is its own background."""
    from pyspark.ml.functions import vector_to_array

    models, train_df, _, prep, names = trained
    model = models["logistic_regression"]["model"]
    mus = (
        train_df.select(vector_to_array("features").alias("arr"))
        .select(*[F.col("arr")[j].alias(n) for j, n in enumerate(names)])
        .agg(*[F.avg(n).alias(n) for n in names])
        .collect()[0]
        .asDict()
    )
    one = customers.drop("churn").limit(1)
    result = explainability.explain_single_prediction(
        model, prep, one, names, mini_config, background_means=mus
    )
    assert isinstance(result, dict)
    nonzero = [c for c in result["contributions"] if abs(c["contribution"]) > 1e-9]
    assert nonzero, "frozen background must yield non-degenerate contributions"
    # parity default (no background): all-zero contributions for 1 row
    default = explainability.explain_single_prediction(
        model, prep, one, names, mini_config
    )
    assert all(abs(c["contribution"]) < 1e-12 for c in default["contributions"])
