"""ML pipeline queries (M1-M7). Tree-ensemble *training* is not
SQL-expressible, but every query here is still under the driver's HASH
gate: the train/test split is a deterministic md5 bucket on o_orderkey
(SQL-mirrorable, same rule as sample_by_hash), so split sizes and
hold-out class counts come straight from SQL, and the model-specific
outputs (accuracy, importances, prediction validity) are asserted
in-query against constant-TRUE oracle columns — a model regression
fails the hash gate, not just tests/test_ml.py.

Task: predict whether an order's *revenue* (sum of
l_extendedprice*(1-l_discount) over its lineitems) is above the global
mean, from order metadata + lineitem rollups — a learnable nonlinear
function of the features (the synthetic o_totalprice is independent
noise, unlearnable by construction). The *shape* mirrors the
reference's movie classifier — categorical indexing, numeric imputation,
assembled/scaled features, seeded RandomForest with the reference's exact
hyperparameters (reference movie_pipeline/classifier_model.py:49-61) —
re-targeted at the driver's testdata.

The fitted model is cached twice: per (session, sf_dir) in-process, and
ON DISK keyed by (cache version, input-data fingerprint) so a fresh
gate process loads the persisted PipelineModel + hold-out predictions
instead of paying the ~70 s 300-tree fit on every run (S8's sink/source
doing real work). The fingerprint covers file names/sizes/mtimes of the
orders+lineitem parquet inputs — any data change invalidates the entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.ml import PipelineModel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ml import pipeline as MLP
from ..sources.readers import load_table
from .registry import query

SPEC = MLP.ClassifierSpec(
    numeric_cols=["n_items", "sum_qty", "avg_discount", "max_extprice"],
    categorical_cols=["o_orderpriority", "o_orderstatus"],
    label_col="label",
)

_TRAIN_BUCKETS = 8  # of 10 → deterministic 80/20 split
# Bumped whenever the saved PipelineModel's stages change (v2: one
# multi-column StringIndexer), so older disk entries are never reused.
_CACHE_VERSION = 2
_CACHE_ROOT = os.path.join(
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
    ".cache",
    "ml_models",
)
# (model, n_train, n_test, hold-out prediction frame)
_model_cache: dict[
    tuple[str, str], tuple[PipelineModel, int, int, DataFrame]
] = {}

# DuckDB mirror of _hash_bucket — identical md5-prefix rule, so the
# oracle reproduces the split membership exactly.
_B10_SQL = (
    "CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8)) AS BIGINT) % 10"
)
# Shared oracle prologue: the training population (orders that have
# lineitems) with its revenue rollup.
_J_SQL = """
    WITH r AS (
      SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey, r.rev
      FROM orders o JOIN r ON o.o_orderkey = r.l_orderkey
    )
"""


def _hash_bucket(key: Column, den: int = 10) -> Column:
    """Deterministic md5 bucket (same rule as operators.text
    sample_by_hash): reproducible split membership at any parallelism,
    no RNG state, and — unlike randomSplit — expressible in ANSI SQL so
    the driver's oracle can verify split sizes and hold-out class
    counts."""
    return F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(den),
    )


def split_frames(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """80/20 deterministic hash split on o_orderkey."""
    b = _hash_bucket(F.col("o_orderkey"))
    return df.where(b < _TRAIN_BUCKETS), df.where(b >= _TRAIN_BUCKETS)


def _data_fingerprint(sf_dir: str) -> str | None:
    """Cheap input identity for the disk cache: names/sizes/mtimes of
    the orders+lineitem parquet files (no data scan). Returns None when
    the inputs aren't local files — the disk cache is then skipped and
    only the in-process cache applies."""
    sig: list[tuple[str, int, int]] = []
    for t in ("orders", "lineitem"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            if os.path.isdir(p):
                for root, _, files in os.walk(p):
                    for fn in sorted(files):
                        fp = os.path.join(root, fn)
                        st = os.stat(fp)
                        sig.append(
                            (
                                os.path.relpath(fp, sf_dir),
                                st.st_size,
                                int(st.st_mtime),
                            )
                        )
            elif os.path.isfile(p):
                st = os.stat(p)
                sig.append((t + ".parquet", st.st_size, int(st.st_mtime)))
            else:
                return None
        except OSError:
            return None
    return hashlib.md5(repr(sorted(sig)).encode()).hexdigest()[:16]


def training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem rollup → features + binary label.

    The label threshold (global mean order revenue) is folded into the
    plan as a scalar-aggregate cross join — no driver round trip, same
    pattern as impute_mean_value.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rollup = li.groupBy("l_orderkey").agg(
        F.count("*").cast("double").alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_discount").alias("avg_discount"),
        F.max("l_extendedprice").alias("max_extprice"),
        F.sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("_revenue"),
    )
    mean_rev = rollup.agg(F.avg("_revenue").alias("_mean_rev"))
    return (
        orders.join(rollup, orders.o_orderkey == rollup.l_orderkey, "inner")
        .crossJoin(F.broadcast(mean_rev))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
            "n_items",
            "sum_qty",
            "avg_discount",
            "max_extprice",
            (F.col("_revenue") > F.col("_mean_rev")).cast("double").alias("label"),
        )
    )


def _fitted(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _model_cache:
        return _model_cache[key]

    fp = _data_fingerprint(sf_dir)
    cache_dir = (
        os.path.join(_CACHE_ROOT, f"v{_CACHE_VERSION}_{fp}") if fp else None
    )
    if cache_dir and os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        # Disk hit: S8 source path — no refit, no re-transform. The
        # hold-out predictions were written by the same model, so every
        # downstream aggregate is identical to a fresh fit (pytest
        # test_model_disk_cache_roundtrip proves it).
        model = MLP.load_model(os.path.join(cache_dir, "model"))
        preds = spark.read.parquet(os.path.join(cache_dir, "preds.parquet"))
        with open(os.path.join(cache_dir, "meta.json")) as fh:
            meta = json.load(fh)
        fitted = (model, int(meta["n_train"]), int(meta["n_test"]), preds)
        _model_cache[key] = fitted
        return fitted

    df = training_frame(spark, sf_dir)
    train_df, test_df = split_frames(df)
    model = MLP.train(SPEC, train_df)
    # The hold-out transform is the expensive shared step (the
    # 300-tree forest rides every task as a ~60 MB task binary and
    # the test lineage re-joins orders⋈lineitem): persist the
    # 2-column prediction frame ONCE so the metric/distribution/
    # confusion queries each aggregate cached rows instead of
    # re-running the forest. The repartition(8) bounds how many
    # concurrent tasks deserialize the forest at once — tree
    # ensembles serialize into the task closure, so peak heap is
    # n_concurrent_tasks × deserialized-model-size; 32-way local
    # parallelism on this hold-out OOMs an 8g heap for zero speedup
    # (the transform is model-deserialization-bound, not row-bound).
    # localCheckpoint (eager) rather than persist: it TRUNCATES the
    # lineage, so downstream jobs stop shipping the forest inside
    # their task binaries — with persist every cached-read job still
    # serialized the transform closure (~60 MB, seconds per action).
    preds = (
        model.transform(test_df.repartition(8))
        .select("label", "prediction")
        .localCheckpoint(eager=True)
    )
    n_train = train_df.count()
    n_test = preds.count()
    if cache_dir:
        # Write-then-rename so a crashed writer never leaves a
        # half-built entry that a later gate run would trust.
        tmp = cache_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        MLP.save_model(model, os.path.join(tmp, "model"))
        preds.write.mode("overwrite").parquet(
            os.path.join(tmp, "preds.parquet")
        )
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"n_train": n_train, "n_test": n_test}, fh)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        shutil.rmtree(cache_dir, ignore_errors=True)
        try:
            os.rename(tmp, cache_dir)
        except OSError:
            # Concurrent writer won the rename race — its entry is
            # equally valid (same fingerprint ⇒ same inputs ⇒ identical
            # deterministic fit); drop ours and carry on in-memory.
            shutil.rmtree(tmp, ignore_errors=True)
    fitted = (model, n_train, n_test, preds)
    _model_cache[key] = fitted
    return fitted


@query(
    "ml_rf_train_metrics",
    oracle=f"""
    {_J_SQL}
    SELECT TRUE AS acc_ge_floor,
           (count(*) FILTER ({_B10_SQL} < 8))::BIGINT AS n_train,
           (count(*) FILTER ({_B10_SQL} >= 8))::BIGINT AS n_test,
           CAST(6 AS BIGINT) AS n_features
    FROM j
    """,
)
def ml_rf_train_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit on the 80% bucket split, evaluate on the 20% hold-out
    (M5+M7). Hash-gated: the SPLIT SIZES are real engine counts checked
    against the oracle's md5-bucket counts (a split-rule or
    row-dropping regression breaks the hash), and accuracy is asserted
    in-query against the 0.8 floor as a constant-TRUE column (the exact
    accuracy value is model-specific, so it gates as an invariant —
    same pattern as ml_rf_quality_gate)."""
    _, n_train, n_test, preds = _fitted(spark, sf_dir)
    acc = (
        preds.agg(
            F.avg((F.col("label") == F.col("prediction")).cast("double"))
        ).first()[0]
    )
    return spark.createDataFrame(
        [(acc >= 0.8, n_train, n_test, len(SPEC.feature_cols))],
        "acc_ge_floor boolean, n_train long, n_test long, n_features long",
    )


@query(
    "ml_rf_feature_importances",
    oracle="""
    SELECT * FROM (VALUES
      ('avg_discount', TRUE), ('max_extprice', TRUE), ('n_items', TRUE),
      ('o_orderpriority_index', TRUE), ('o_orderstatus_index', TRUE),
      ('sum_qty', TRUE)
    ) t(feature, importance_in_unit) ORDER BY feature
    """,
)
def ml_rf_feature_importances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RF featureImportances zipped with feature names (M6), hash-gated
    on the invariants: the fitted model exposes exactly the six spec'd
    feature names and every importance lies in [0, 1] (sum-to-one is
    gated by ml_rf_quality_gate). The raw importance values are
    model-specific; ``MLP.feature_importances`` returns them for API
    users (reference classifier_model.py:75-93)."""
    model, _, _, _ = _fitted(spark, sf_dir)
    pairs = MLP.feature_importances(model, SPEC)
    return spark.createDataFrame(
        sorted((f, 0.0 <= imp <= 1.0) for f, imp in pairs),
        "feature string, importance_in_unit boolean",
    )


@query(
    "ml_rf_prediction_distribution",
    oracle=f"""
    {_J_SQL}
    SELECT TRUE AS predictions_are_binary, TRUE AS both_classes_predicted,
           (count(*) FILTER ({_B10_SQL} >= 8))::BIGINT AS n_holdout
    FROM j
    """,
)
def ml_rf_prediction_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction label distribution on the hold-out (A6 analog — the
    reference's commented-out True/False tally, data_utils.py:437-449),
    hash-gated: predicted labels are exactly {0, 1}, both classes
    occur, and the prediction frame covers the full SQL-counted hold-out
    (a transform that dropped rows breaks the hash)."""
    _, _, _, preds = _fitted(spark, sf_dir)
    row = preds.agg(
        F.count(
            F.when(~F.col("prediction").isin(0.0, 1.0), 1)
        ).alias("_nonbinary"),
        F.count_distinct("prediction").alias("_npred"),
        F.count(F.lit(1)).alias("_n"),
    ).first()
    return spark.createDataFrame(
        [(row["_nonbinary"] == 0, row["_npred"] == 2, row["_n"])],
        "predictions_are_binary boolean, both_classes_predicted boolean, "
        "n_holdout long",
    )


@query(
    "ml_scaler_fit_stats",
    oracle="""
    WITH r AS (
      SELECT l_orderkey,
        count(*)::DOUBLE AS n_items,
        sum(l_quantity) AS sum_qty,
        avg(l_discount) AS avg_discount,
        max(l_extendedprice) AS max_extprice
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (SELECT r.* FROM orders o JOIN r ON o.o_orderkey = r.l_orderkey)
    SELECT feature, round(mean, 4) AS mean, round(std, 4) AS std FROM (
      SELECT 'n_items' AS feature, avg(n_items) AS mean,
             stddev_samp(n_items) AS std FROM j
      UNION ALL SELECT 'sum_qty', avg(sum_qty), stddev_samp(sum_qty) FROM j
      UNION ALL SELECT 'avg_discount', avg(avg_discount),
             stddev_samp(avg_discount) FROM j
      UNION ALL SELECT 'max_extprice', avg(max_extprice),
             stddev_samp(max_extprice) FROM j
    ) ORDER BY feature
    """,
)
def ml_scaler_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the StandardScaler's fitted statistics (per-feature mean and
    sample std), exposed from a real ``StandardScalerModel`` fit over the
    training features — oracle-checked against SQL avg/stddev_samp. This
    pins the scaler's math (Bessel-corrected std, no mean shift applied
    at transform when withMean=False) to the SQL definition."""
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    df = training_frame(spark, sf_dir)
    va = VectorAssembler(inputCols=SPEC.numeric_cols, outputCol="_f")
    model = StandardScaler(
        inputCol="_f", outputCol="_sf", withMean=True, withStd=True
    ).fit(va.transform(df))
    means = model.mean.toArray()
    stds = model.std.toArray()
    rows = sorted(
        (c, round(float(m), 4), round(float(s), 4))
        for c, m, s in zip(SPEC.numeric_cols, means, stds)
    )
    return spark.createDataFrame(rows, "feature string, mean double, std double")


@query(
    "ml_rf_quality_gate",
    oracle="""
    SELECT TRUE AS acc_ge_floor, TRUE AS both_classes_predicted,
           TRUE AS confusion_sums_to_holdout, TRUE AS importances_sum_to_one,
           CAST(6 AS BIGINT) AS n_features
    """,
)
def ml_rf_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated ML quality (same pattern as knn_ann_recall_gate):
    the trained-model outputs themselves are engine-specific (rows-only
    queries above/below), but their *invariants* are asserted in-query
    and hash-compared against constant-TRUE oracle columns, so a model
    regression — accuracy under the 0.8 pytest floor, a degenerate
    single-class predictor, a confusion matrix that lost rows, or
    importances that stopped normalizing — fails the driver's hash gate,
    not just the test suite. All four checks aggregate the one cached
    hold-out prediction frame; no extra model transforms."""
    model, _, _, preds = _fitted(spark, sf_dir)
    row = preds.agg(
        F.avg((F.col("label") == F.col("prediction")).cast("double")).alias("_acc"),
        F.count_distinct("prediction").alias("_npred"),
        F.count(F.lit(1)).alias("_n"),
    ).first()
    imps = [imp for _, imp in MLP.feature_importances(model, SPEC)]
    confusion_total = (
        preds.groupBy("label", "prediction").count().agg(F.sum("count")).first()[0]
    )
    return spark.createDataFrame(
        [
            (
                row["_acc"] >= 0.8,
                row["_npred"] == 2,
                confusion_total == row["_n"],
                abs(sum(imps) - 1.0) < 1e-6,
                len(SPEC.feature_cols),
            )
        ],
        "acc_ge_floor boolean, both_classes_predicted boolean, "
        "confusion_sums_to_holdout boolean, importances_sum_to_one boolean, "
        "n_features long",
    )


@query(
    "ml_rf_confusion_matrix",
    oracle=f"""
    {_J_SQL}, m AS (SELECT avg(rev) AS mr FROM r)
    SELECT CAST(rev > mr AS DOUBLE) AS label,
           count(*)::BIGINT AS n_label
    FROM j, m WHERE {_B10_SQL} >= 8
    GROUP BY 1 ORDER BY 1
    """,
)
def ml_rf_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hold-out confusion matrix row sums (M7/A6), hash-gated: the
    per-label totals are computed FROM the label×prediction confusion
    matrix and checked against the oracle's SQL class counts over the
    md5-bucket hold-out — confusion-matrix rows that went missing (or a
    label definition drift) break the hash. The full matrix cells are
    model-specific (exposed to API users via the same cached prediction
    frame); their sum-to-holdout invariant is additionally gated by
    ml_rf_quality_gate."""
    _, _, _, preds = _fitted(spark, sf_dir)
    conf = preds.groupBy("label", "prediction").agg(
        F.count("*").alias("n")
    )
    return (
        conf.groupBy("label")
        .agg(F.sum("n").alias("n_label"))
        .orderBy("label")
    )


@query(
    "ml_lr_embedding_gate",
    oracle="""
    SELECT TRUE AS auc_ge_floor, TRUE AS acc_beats_majority,
           TRUE AS probs_are_probabilities,
           CAST(64 AS BIGINT) AS n_features
    """,
)
def ml_lr_embedding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second model family under the driver gate: LOGISTIC REGRESSION
    over the embeddings table (64-dim float vectors, integer labels) —
    the GLM path of MLlib alongside the reference's tree ensemble
    (fast distributed GLM fitting is the standard MLlib workhorse;
    cf. 'MLlib*: Fast Training of GLMs Using Spark MLlib', ICDE'19).
    The table's label column is synthetic-random (nearest-neighbor
    same-label rate ≈ chance — measured 10.8% over 10 classes), so
    predictive floors against it would gate nothing; the target is
    instead DERIVED from the features (sign of the first embedding
    component) — deterministic, and genuinely learnable by a linear
    model. Deterministic hash split (same md5-bucket rule as
    sample_by_hash, 80/20), fit on train, invariants asserted in-query
    against constant-TRUE oracle columns: hold-out AUC ≥ 0.9 on the
    learnable target, accuracy beats the majority baseline, and
    predicted probabilities are valid [0, 1]. An LBFGS/feature-pipeline
    regression fails the driver's hash gate, not just pytest."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, sf_dir, "embeddings")
    data = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
        (F.element_at("embedding", 1) > 0).cast("double").alias("label"),
        "vec_id",
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(10),
    )
    train = data.where(bucket < 8)
    test = data.where(bucket >= 8).persist()

    lr = LogisticRegression(maxIter=50, regParam=0.01, standardization=True)
    model = lr.fit(train)
    preds = model.transform(test).persist()

    auc = BinaryClassificationEvaluator(
        metricName="areaUnderROC"
    ).evaluate(preds)
    row = preds.agg(
        F.avg((F.col("label") == F.col("prediction")).cast("double")).alias(
            "_acc"
        ),
        F.greatest(F.avg("label"), 1 - F.avg("label")).alias("_maj"),
        F.count(
            F.when(
                (F.element_at(vector_to_array("probability"), 1) < 0)
                | (F.element_at(vector_to_array("probability"), 1) > 1),
                1,
            )
        ).alias("_bad_probs"),
    ).first()
    return spark.createDataFrame(
        [
            (
                auc >= 0.9,
                row["_acc"] >= row["_maj"] - 1e-9,
                row["_bad_probs"] == 0,
                model.numFeatures,
            )
        ],
        "auc_ge_floor boolean, acc_beats_majority boolean, "
        "probs_are_probabilities boolean, n_features long",
    )


@query(
    "ml_pca_embedding_gate",
    oracle="""
    SELECT TRUE AS components_orthonormal, TRUE AS ev_nonincreasing,
           TRUE AS ev_valid_simplex, TRUE AS proj_var_matches_ev,
           CAST(8 AS BIGINT) AS k, CAST(64 AS BIGINT) AS n_features
    """,
)
def ml_pca_embedding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third MLlib family under the driver gate: distributed PCA over the
    64-dim embeddings (MLlib computes the covariance/SVD cluster-side; the
    only driver-size object is the 64×k component matrix). Hash-gated
    invariants, constant-TRUE oracle columns (same pattern as
    ml_lr_embedding_gate):

    - components are orthonormal (max |PᵀP − I| < 1e-6 on the k×k Gram);
    - explained-variance ratios are non-increasing, strictly positive,
      and sum to ≤ 1 (a valid sub-simplex);
    - DISTRIBUTED cross-check: the per-projected-dimension sample
      variance over the whole corpus, divided by the total raw-dimension
      variance (trace of the covariance), reproduces MLlib's reported
      explained-variance ratios to 1e-6 — variance is shift-invariant,
      so Var(x·vᵢ) = λᵢ holds whether or not the projection centers.
      This re-derives the eigenvalues from the data in one extra scan,
      so a regression in either the fit or the transform path flips a
      gate boolean.

    Scale shape: one fit pass (MLlib tree-aggregated Gramian), one
    72-column single-row aggregate for the cross-check; no collect of
    data rows."""
    import numpy as np
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    k, dim = 8, 64
    emb = load_table(spark, sf_dir, "embeddings")
    data = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        )
    )
    model = PCA(k=k, inputCol="features", outputCol="pc").fit(data)

    P = model.pc.toArray()  # dim × k, constant-size
    gram_err = float(np.max(np.abs(P.T @ P - np.eye(k))))
    ev = model.explainedVariance.toArray()
    nonincreasing = bool(np.all(np.diff(ev) <= 1e-12))
    simplex = bool(np.all(ev > 0.0) and float(ev.sum()) <= 1.0 + 1e-9)

    proj = model.transform(data).select(
        vector_to_array("pc").alias("p"), vector_to_array("features").alias("f")
    )
    aggs = [
        F.var_samp(F.element_at("p", i + 1)).alias(f"pv{i}") for i in range(k)
    ]
    aggs.append(
        sum(
            F.var_samp(F.element_at("f", j + 1)) for j in range(dim)
        ).alias("total_var")
    )
    row = proj.agg(*aggs).first()
    ratios = np.array([row[f"pv{i}"] for i in range(k)]) / row["total_var"]
    proj_matches = bool(np.max(np.abs(ratios - ev)) < 1e-6)

    return spark.createDataFrame(
        [
            (
                gram_err < 1e-6,
                nonincreasing,
                simplex,
                proj_matches,
                k,
                int(model.pc.numRows),
            )
        ],
        "components_orthonormal boolean, ev_nonincreasing boolean, "
        "ev_valid_simplex boolean, proj_var_matches_ev boolean, "
        "k long, n_features long",
    )


@query(
    "ml_als_recommender_gate",
    oracle="""
    SELECT TRUE AS recovers_lowrank, TRUE AS predictions_finite,
           TRUE AS factor_rank_correct, TRUE AS factors_cover_all,
           TRUE AS recs_valid, CAST(8 AS BIGINT) AS rank
    """,
)
def ml_als_recommender_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth MLlib family under the driver gate: ALS collaborative
    filtering (the distributed block matrix-factorization recommender —
    cf. Hu/Koren/Volinsky and MLlib's blocked ALS). The OBSERVED
    (user, item) pairs come from the events table itself — item = the
    ``props`` JSON key ``k`` (0..~100) — so the sparsity pattern is the
    data's real interaction graph. The rating is DERIVED rank-1
    (``(user%7+1)·(item%5+1)/10``) for the same reason
    ml_lr_embedding_gate derives its target: the natural signal
    (log1p of interaction count) degenerates to a near-constant at
    larger SFs (≈1 event per pair), where no factorization can beat a
    global mean and the gate would measure regularization shrinkage,
    not fit. A rank-1 ground truth is exactly recoverable by rank-8
    ALS at ANY scale, so a solver/blocking regression fails loudly.

    Hash-gated invariants, constant-TRUE oracle columns (same pattern
    as ml_lr_embedding_gate / ml_pca_embedding_gate):

    - train RMSE < 0.1 × the global-mean predictor's RMSE
      (stddev_pop) — the factorization recovers the planted low-rank
      structure, not merely edges out the mean;
    - every prediction on the training pairs is finite (no NaN/null
      leaked through coldStartStrategy='drop');
    - all user AND item factor vectors have exactly rank=8 entries;
    - factor tables cover every observed user and item (fit is total);
    - recommendForAllUsers(3) emits only items seen in training, with
      per-user scores non-increasing.

    Scale shape: one groupBy builds the ratings matrix (map-side
    partials absorb per-pair event mass); the fit is MLlib's blocked
    alternating least squares (factors live in partitioned DataFrames,
    never on the driver); every invariant is an aggregate over the
    factor/prediction/recommendation DataFrames — no data-sized
    collect. The only driver-size values are the six gate booleans."""
    from pyspark.ml.recommendation import ALS

    ev = load_table(spark, sf_dir, "events")
    ratings = (
        ev.select(
            F.col("user_id").cast("int").alias("user"),
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .where(F.col("item").isNotNull())
        .groupBy("user", "item")
        .agg(F.count("*").alias("_n"))
        .select(
            "user",
            "item",
            (
                (F.pmod("user", F.lit(7)) + 1)
                * (F.pmod("item", F.lit(5)) + 1)
                / 10.0
            ).alias("rating"),
        )
        .persist()
    )

    rank = 8
    als = ALS(
        rank=rank,
        maxIter=10,
        regParam=0.01,
        seed=42,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
        nonnegative=False,
    )
    model = als.fit(ratings)

    preds = model.transform(ratings)
    fit_row = preds.agg(
        F.sqrt(
            F.avg(F.pow(F.col("rating") - F.col("prediction"), 2))
        ).alias("rmse"),
        F.stddev_pop("rating").alias("baseline"),
        F.count(
            F.when(
                F.col("prediction").isNull() | F.isnan("prediction"), 1
            )
        ).alias("bad"),
        F.count("*").alias("n_pred"),
    ).first()

    def _factor_stats(fdf):
        return fdf.agg(
            F.min(F.size("features")).alias("mn"),
            F.max(F.size("features")).alias("mx"),
            F.count("*").alias("n"),
        ).first()

    u_stats = _factor_stats(model.userFactors)
    i_stats = _factor_stats(model.itemFactors)
    card = ratings.agg(
        F.countDistinct("user").alias("nu"),
        F.countDistinct("item").alias("ni"),
        F.count("*").alias("n_pairs"),
    ).first()

    recs = model.recommendForAllUsers(3)
    flat = recs.select(
        "user", F.posexplode("recommendations").alias("pos", "rec")
    ).select("user", "pos", F.col("rec.item").alias("item"),
             F.col("rec.rating").alias("score"))
    known_items = ratings.select("item").distinct()
    rec_row = (
        flat.join(F.broadcast(known_items), "item", "left_anti")
        .agg(F.count("*").alias("unknown"))
        .first()
    )
    # ordering: within each user, score at pos p must be >= score at p+1
    w_next = Window.partitionBy("user").orderBy("pos")
    order_row = (
        flat.withColumn("nxt", F.lead("score").over(w_next))
        .agg(
            F.count(
                F.when(F.col("nxt").isNotNull()
                       & (F.col("score") < F.col("nxt") - 1e-6), 1)
            ).alias("misordered"),
            F.count(F.when(F.isnan("score"), 1)).alias("nan_scores"),
        )
        .first()
    )
    ratings.unpersist()

    return spark.createDataFrame(
        [
            (
                fit_row["rmse"] < 0.1 * fit_row["baseline"],
                fit_row["bad"] == 0 and fit_row["n_pred"] == card["n_pairs"],
                u_stats["mn"] == rank == u_stats["mx"]
                and i_stats["mn"] == rank == i_stats["mx"],
                u_stats["n"] == card["nu"] and i_stats["n"] == card["ni"],
                rec_row["unknown"] == 0
                and order_row["misordered"] == 0
                and order_row["nan_scores"] == 0,
                rank,
            )
        ],
        "recovers_lowrank boolean, predictions_finite boolean, "
        "factor_rank_correct boolean, factors_cover_all boolean, "
        "recs_valid boolean, rank long",
    )


@query(
    "ml_gbt_embedding_gate",
    oracle="""
    SELECT TRUE AS auc_ge_floor, TRUE AS acc_beats_majority,
           TRUE AS importances_normalized, TRUE AS preds_are_binary,
           CAST(64 AS BIGINT) AS n_features
    """,
)
def ml_gbt_embedding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth MLlib family under the driver gate: GRADIENT-BOOSTED TREES
    over the embeddings, on a target NO linear model can represent —
    the AND of the first two components' signs (a linear separator tops
    out near the 75% majority rate; ml_lr_embedding_gate's linearly-
    separable target would not distinguish boosting from a logit). The
    conjunction is greedily learnable — the first axis split already
    carries gain, unlike a pure XOR, where zero first-split gain defeats
    greedy tree induction regardless of capacity — so a depth-3 ensemble
    recovers it and the AUC floor gates genuine tree learning, not label
    leakage. Deterministic hash split and seed; constant-TRUE oracle
    columns (the ml_*_gate pattern):

    - hold-out AUC ≥ 0.9 on the conjunction target;
    - accuracy beats the majority baseline;
    - featureImportances is a valid distribution (sums to 1, none
      negative);
    - predictions land in {0, 1}."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    data = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
        (
            (F.element_at("embedding", 1) > 0)
            & (F.element_at("embedding", 2) > 0)
        )
        .cast("double")
        .alias("label"),
        "vec_id",
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(10),
    )
    train = data.where(bucket < 8)
    test = data.where(bucket >= 8).persist()

    gbt = GBTClassifier(maxIter=20, maxDepth=3, stepSize=0.3, seed=7)
    model = gbt.fit(train)
    preds = model.transform(test).persist()

    auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(
        preds
    )
    row = preds.agg(
        F.avg((F.col("label") == F.col("prediction")).cast("double")).alias(
            "_acc"
        ),
        F.greatest(F.avg("label"), 1 - F.avg("label")).alias("_maj"),
        F.count(
            F.when(~F.col("prediction").isin(0.0, 1.0), 1)
        ).alias("_bad_preds"),
    ).first()
    imp = model.featureImportances.toArray()
    return spark.createDataFrame(
        [
            (
                auc >= 0.9,
                row["_acc"] >= row["_maj"] - 1e-9,
                bool(abs(float(imp.sum()) - 1.0) < 1e-6 and (imp >= 0).all()),
                row["_bad_preds"] == 0,
                model.numFeatures,
            )
        ],
        "auc_ge_floor boolean, acc_beats_majority boolean, "
        "importances_normalized boolean, preds_are_binary boolean, "
        "n_features long",
    )
