"""Spark ML classification layer (SURVEY §2.7 M1–M5).

The reference trains sklearn RandomForests — main on band+shape
features, backup on shape-only (`3_object_classification/
object_classifier.py:121-125`: 100 trees, max_depth=20, seed=42) —
and runs vectorized batch inference with a dict-lookup + fallback.
Here both models are ``pyspark.ml`` RandomForests (distributed fit,
distributed transform — no driver-side model loop), and the
dual-model fallback is the J2 coalesce pattern over `prediction`
columns. Tree-level parity with sklearn is impossible (different
implementations); parity is metric-level (SURVEY §7 hard-part 4).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RF_NUM_TREES = 100
RF_MAX_DEPTH = 20
RF_SEED = 42


def train_rf(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    num_trees: int = RF_NUM_TREES,
    max_depth: int = RF_MAX_DEPTH,
    seed: int = RF_SEED,
    feature_subset_strategy: str | None = None,
    bootstrap: bool | None = None,
) -> PipelineModel:
    """M2/M3: assemble features → RandomForest fit, with the
    reference's hyperparameters as defaults.

    ``feature_subset_strategy`` passes through to Spark's
    ``featureSubsetStrategy`` (default ``auto`` = sqrt per node);
    ``"all"`` makes every tree's greedy split deterministic over the
    full feature set. ``bootstrap=False`` trains every tree on the
    FULL training set (no bagging) — together with ``"all"`` this
    makes every tree identical and greedily pure over a separable
    training set, which is what the exact-lattice pipeline twins need
    for provably-unanimous, provably-correct votes even when the
    training set is small (a bootstrap bag of a 12-row training set
    misses a feature vector with probability ~e^(-k), which is NOT
    negligible at k=2 — r15 E4 lesson)."""
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="keep"
    )
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol=label_col,
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=seed,
    )
    if feature_subset_strategy is not None:
        rf.setFeatureSubsetStrategy(feature_subset_strategy)
    if bootstrap is not None:
        rf.setBootstrap(bootstrap)
    # copy(): the same trees and params without the training summary.
    # The summary holds the SparkSession, and once the session has run
    # an `Observation` (operators/spread.py::counted_checkpoint counts
    # every edge table and BFS level with one) it no longer serializes
    # on Spark 4.1.2 (`ObservationManager`), so every task that ships
    # the model would fail with "Task not serializable".
    return Pipeline(stages=[assembler, rf]).fit(df).copy()


def predict(model: PipelineModel, df: DataFrame, out_col: str = "pred") -> DataFrame:
    """M1: batch inference; keeps the input schema + prediction and
    max class probability (the reference's argmax + confidence,
    `1_pixel_classification/pixel_classifier_stream.py:149-152`)."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(df)
    conf = F.array_max(vector_to_array(F.col("probability")))
    return out.withColumn(out_col, F.col("prediction").cast("int")).withColumn(
        f"{out_col}_conf", conf
    ).drop("features", "rawPrediction", "probability", "prediction")


def dual_model_predict(
    df: DataFrame,
    main_model: PipelineModel,
    backup_model: PipelineModel,
    main_cols: list[str],
    out_col: str = "PredClass",
) -> DataFrame:
    """M5/J2: main-model predictions where all main features are
    present; backup-model predictions otherwise; 0 if both fail
    (`3_object_classification/object_classifier.py:167-177`)."""
    has_main = None
    for c in main_cols:
        cond = F.col(c).isNotNull() & ~F.isnan(F.col(c).cast("double"))
        has_main = cond if has_main is None else (has_main & cond)
    main_part = predict(main_model, df.where(has_main), out_col="_main")
    backup_part = predict(backup_model, df.where(~has_main), out_col="_backup")
    main_sel = main_part.withColumn(
        out_col, F.coalesce(F.col("_main"), F.lit(0)).cast("int")
    ).drop("_main", "_main_conf")
    backup_sel = backup_part.withColumn(
        out_col, F.coalesce(F.col("_backup"), F.lit(0)).cast("int")
    ).drop("_backup", "_backup_conf")
    return main_sel.unionByName(backup_sel)


def save_model(model: PipelineModel, path: str) -> None:
    """M4: idempotent persistence."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    return PipelineModel.load(path)
