"""Standalone end-to-end pipeline runner (SURVEY.md §2.11 O6; reference
/root/reference/src/ml_pipeline/run_pipeline.py:24-121).

Same stage sequence and return contract:
ingest → features → stratified split → train all → evaluate → champion →
(optional) explainability → promote. Returns
``{"success": True, "champion", "metrics", "deploy_path"}`` or
``{"success": False, "reason": "No model meets thresholds"}``.

Spark restatement (SURVEY.md §3.1): stages 1-3 build one lazy DataFrame
lineage; the featurized training frame is cached before CV (it is scanned
folds × grid-points times); all inter-stage state is either tiny dicts or
the fitted artifacts.

Caching note: a cached frame keeps the partitioning it was computed with
(AQE does not coalesce a cached plan), so the cached train/test frames, and
the fold frame CV caches from train, come out of operators/split.py as
single partitions. Every L-BFGS iteration, CV fold filter and evaluation
job over them is then one task, not one per shuffle partition with all
but two empty. The feature fit before the split is two collects: the
outlier-clip statistics, then the preprocessor's one aggregate.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession

from airflow_ml_pipeline_spark.config import load_config
from airflow_ml_pipeline_spark.operators.deployment import promote_model
from airflow_ml_pipeline_spark.operators.evaluation import (
    evaluate_all_models,
    save_evaluation_report,
    select_champion,
)
from airflow_ml_pipeline_spark.operators.explainability import (
    compute_shap_values,
    generate_feature_importance,
    save_explainability_report,
)
from airflow_ml_pipeline_spark.operators.features import build_features
from airflow_ml_pipeline_spark.operators.generate import ingest_data
from airflow_ml_pipeline_spark.operators.split import stratified_split
from airflow_ml_pipeline_spark.operators.training import assemble, train_all_models


def run_pipeline(spark: SparkSession, config_path: str | None = None, config: dict | None = None) -> dict:
    """Execute the full ML pipeline end-to-end on one SparkSession."""
    if config is None:
        config = load_config(config_path)

    # Step 1 — ingestion (generate-or-load + validate)
    df = ingest_data(spark, config)

    # Step 2 — features (fit preprocessor, persist it)
    features_df, preprocessor, feature_names = build_features(df, config, fit=True)
    preprocessor_path = str(
        Path(config["deployment"]["champion_model_path"]).parent / "preprocessor.json"
    )
    preprocessor.save(preprocessor_path)

    # Stratified split on the assembled training frame
    test_size = config["data"].get("test_size", 0.2)
    random_state = config["data"].get("random_state", 42)
    ml_df = assemble(features_df, feature_names)
    train_df, test_df = stratified_split(
        ml_df, "label", test_size=test_size, seed=random_state
    )
    train_df = train_df.cache()
    test_df = test_df.cache()

    # Step 3 — training (grid search + stratified CV per enabled model)
    trained_models = train_all_models(train_df, config)
    if not trained_models:
        return {"success": False, "reason": "No model meets thresholds"}

    # Step 4 — evaluation + champion selection
    evaluation_results = evaluate_all_models(trained_models, test_df, config)
    result = select_champion(evaluation_results, config)
    if result is None:
        return {"success": False, "reason": "No model meets thresholds"}

    champion_name, champion_result = result
    report_path = str(
        Path(config["deployment"]["champion_model_path"]).parent
        / "evaluation_report.json"
    )
    save_evaluation_report(evaluation_results, champion_name, report_path)

    # Step 4.5 — explainability (optional)
    explain_cfg = config.get("explainability", {})
    feature_importance = None
    if explain_cfg.get("enabled", False):
        champion_model = trained_models[champion_name]["model"]
        shap_result = compute_shap_values(
            champion_model,
            features_df.select(*feature_names),
            feature_names,
            config,
        )
        feature_importance = generate_feature_importance(
            shap_result["shap_values"],
            feature_names,
            max_features=explain_cfg.get("max_display_features", 10),
        )
        explain_path = str(
            Path(config["deployment"]["champion_model_path"]).parent
            / "explainability_report.json"
        )
        save_explainability_report(shap_result, feature_importance, explain_path)

    # Step 5 — deployment (freeze the training feature means so serving-time
    # explanations have a meaningful background)
    from pyspark.sql import functions as F

    background_means = {
        c: float(v)
        for c, v in features_df.agg(
            *[F.avg(c).alias(c) for c in feature_names]
        ).collect()[0].asDict().items()
    }
    champion_model = trained_models[champion_name]["model"]
    deploy_path = promote_model(
        model=champion_model,
        preprocessor=preprocessor,
        model_name=champion_name,
        metrics=champion_result["metrics"],
        feature_names=feature_names,
        config=config,
        feature_importance=feature_importance,
        background_means=background_means,
    )

    return {
        "success": True,
        "champion": champion_name,
        "metrics": {
            k: v
            for k, v in champion_result["metrics"].items()
            if isinstance(v, float)
        },
        "deploy_path": deploy_path,
    }
