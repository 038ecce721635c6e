"""Unified ML pipeline (SURVEY.md §2.9, M1-M7; sink/source S8).

The reference scatters model state across driver-side dicts — imputation
means in ``mean_dict`` (reference movie_pipeline/classifier_pipeline.py:115-121),
fitted StringIndexerModels in ``indexer_models`` (classifier_pipeline.py:382-396)
— and refits the scaler on each dataset (classifier_pipeline.py:405-407),
a train/test inconsistency. Here every stateful transform is a stage of
ONE ``pyspark.ml.Pipeline``; ``fit(train)`` captures all statistics and
``transform(test)`` replays them, so consistency is structural, not
convention.

Stage order: Imputer (train means, M-analog of mean_dict) →
ONE multi-column StringIndexer over every categorical
(``handleInvalid='keep'``, M1; one fit pass and one saved stage, with the
same frequencyDesc/alphabetical labels as one indexer per column) →
VectorAssembler (M2) → StandardScaler (withMean=False, M3) →
RandomForestClassifier with the reference's exact hyperparameters
(reference movie_pipeline/classifier_model.py:49-61) (M4), assembled via
Pipeline (M5).

Fit input: ``Pipeline.fit`` scans its input once per consumer — the
Imputer, the indexer, the scaler, the forest's label/metadata/split
passes, its bagged input and its training summary — so an unpersisted
input re-runs the caller's whole lazy plan (scans, windows, joins) about
ten times. ``train`` and ``tune_rf`` therefore fit on ``fit_input``: the
spec's columns only, persisted for the duration of the fit. Projecting
BEFORE persisting matters: caching the full frame would materialize
columns the model never reads (e.g. the IMDB titles' Arrow NFKD UDF,
which the projection prunes from the plan).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import Imputer, StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame

# Reference hyperparameters, verbatim (classifier_model.py:49-61).
RF_PARAMS = dict(
    numTrees=300,
    maxDepth=15,
    minInstancesPerNode=2,
    maxBins=64,
    impurity="entropy",
    bootstrap=True,
    featureSubsetStrategy="sqrt",
    subsamplingRate=0.8,
    seed=42,
    # Execution tuning, NOT a model hyperparameter (node-group batching
    # only; the fitted trees are identical): every training task
    # allocates an O(maxMemoryInMB) split-stats aggregation buffer, so
    # peak heap is task_slots × this value — the default 256 MB × 32
    # local slots ≈ 8 GB of transient buffers, which intermittently
    # OOMs the single-JVM heap at depth 15. 64 MB bounds the fleet-wide
    # buffer at ¼ heap; on a real cluster size it to
    # executor_mem / cores_per_executor headroom the same way.
    maxMemoryInMB=64,
)


@dataclass
class ClassifierSpec:
    """Declarative description of one classification task."""

    numeric_cols: list[str]
    categorical_cols: list[str]
    label_col: str = "label"
    rf_params: dict = field(default_factory=lambda: dict(RF_PARAMS))

    @property
    def feature_cols(self) -> list[str]:
        return self.numeric_cols + [f"{c}_index" for c in self.categorical_cols]


def build_pipeline(spec: ClassifierSpec) -> Pipeline:
    """All M1-M4 stages in one Pipeline (M5)."""
    stages = []
    if spec.numeric_cols:
        stages.append(
            Imputer(
                inputCols=spec.numeric_cols,
                outputCols=spec.numeric_cols,
                strategy="mean",
            )
        )
    if spec.categorical_cols:
        stages.append(
            StringIndexer(
                inputCols=spec.categorical_cols,
                outputCols=[f"{c}_index" for c in spec.categorical_cols],
                handleInvalid="keep",
            )
        )
    stages.append(
        VectorAssembler(
            inputCols=spec.feature_cols, outputCol="features", handleInvalid="keep"
        )
    )
    stages.append(
        StandardScaler(
            inputCol="features",
            outputCol="scaled_features",
            withStd=True,
            withMean=False,
        )
    )
    stages.append(
        RandomForestClassifier(
            featuresCol="scaled_features", labelCol=spec.label_col, **spec.rf_params
        )
    )
    return Pipeline(stages=stages)


@contextmanager
def fit_input(spec: ClassifierSpec, df: DataFrame) -> Iterator[DataFrame]:
    """``df`` pruned to the spec's input columns and persisted while the
    caller fits on it, so the upstream plan runs once per fit instead of
    once per pipeline stage pass; unpersisted on exit."""
    pruned = df.select(
        *spec.numeric_cols, *spec.categorical_cols, spec.label_col
    ).persist()
    try:
        yield pruned
    finally:
        pruned.unpersist()


def train(spec: ClassifierSpec, train_df: DataFrame) -> PipelineModel:
    with fit_input(spec, train_df) as df:
        return build_pipeline(spec).fit(df)


def feature_importances(model: PipelineModel, spec: ClassifierSpec) -> list[tuple[str, float]]:
    """(feature, importance) descending — M6 (reference
    classifier_model.py:75-93 zips importances with names)."""
    rf = model.stages[-1]
    imps = rf.featureImportances.toArray()
    pairs = list(zip(spec.feature_cols, (float(x) for x in imps)))
    pairs.sort(key=lambda p: (-p[1], p[0]))
    return pairs


def evaluate_accuracy(
    model: PipelineModel, test_df: DataFrame, label_col: str = "label"
) -> float:
    """M7: MulticlassClassificationEvaluator accuracy (notebook contract,
    reference eda/process_data.ipynb cell 1)."""
    preds = model.transform(test_df)
    ev = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="accuracy"
    )
    return float(ev.evaluate(preds))


def save_model(model: PipelineModel, path: str) -> None:
    """S8 sink (reference classifier_model.py:109)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    """S8 source."""
    return PipelineModel.load(path)


def tune_rf(
    spec: ClassifierSpec,
    train_df: DataFrame,
    num_trees_grid: list[int] = (20, 50),
    max_depth_grid: list[int] = (5, 10),
    train_ratio: float = 0.75,
    seed: int = 42,
):
    """M7 extension: hyperparameter search over the RF stage with
    TrainValidationSplit (one split, |grid| fits — the scale-sane default
    vs k-fold CV's k×|grid| fits). Returns (best_model, metrics) where
    metrics is [(numTrees, maxDepth, validation_accuracy)] in grid order.

    The whole Pipeline is the estimator, so every fold re-fits indexers
    and scaler on its own split — no state leakage from validation rows.
    """
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    pipeline = build_pipeline(spec)
    rf = pipeline.getStages()[-1]
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, list(num_trees_grid))
        .addGrid(rf.maxDepth, list(max_depth_grid))
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(
            labelCol=spec.label_col, predictionCol="prediction",
            metricName="accuracy",
        ),
        trainRatio=train_ratio,
        seed=seed,
        parallelism=2,
    )
    with fit_input(spec, train_df) as df:
        model = tvs.fit(df)
    metrics = [
        (
            int(pm[rf.numTrees]),
            int(pm[rf.maxDepth]),
            float(m),
        )
        for pm, m in zip(grid, model.validationMetrics)
    ]
    return model.bestModel, metrics
