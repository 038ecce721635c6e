"""ML pipeline: accuracy floor, state-reuse contract, persistence."""

from __future__ import annotations

from pyspark.ml.feature import StringIndexer
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark.ml import pipeline as MLP
from big_data_imdb_classifier_spark.plans import queries_ml as QM

from .conftest import SF_SMOKE


def _splits(spark):
    df = QM.training_frame(spark, SF_SMOKE)
    return df.randomSplit([0.8, 0.2], seed=42)


_CATS = ["c1", "c2", "c3", "c4"]
_N_ROWS = 120
# Small forest: these tests check how the input is fed to the fit, not
# the reference hyperparameters.
_SMALL_SPEC = MLP.ClassifierSpec(
    numeric_cols=["x", "y"],
    categorical_cols=_CATS,
    rf_params=dict(MLP.RF_PARAMS, numTrees=5, maxDepth=4),
)


def _fixed_frame(spark):
    """Fixed input with frequency ties in c1/c2 (alphabetical tie-break),
    distinct frequencies in c3/c4, nulls in x, and an unused column u."""
    rows = []
    for i in range(_N_ROWS):
        x = None if i % 11 == 0 else float(i % 17)
        y = float((i * 7) % 23)
        rows.append((
            x, y,
            "dcba"[i % 4],
            "zy"[i % 2],
            "k" if i % 3 else "m",
            "q" if i % 5 == 0 else ("p" if i % 5 == 1 else "r"),
            f"unused-{i}",
            1.0 if (x or 0.0) + y > 20 else 0.0,
        ))
    return spark.createDataFrame(
        rows, "x double, y double, c1 string, c2 string, c3 string, "
        "c4 string, u string, label double",
    )


def test_train_runs_the_input_plan_once(spark):
    """MLP.train materializes the spec's columns once for the whole fit
    (every stage pass reads the persisted projection), and never
    evaluates a column the spec does not name."""
    sc = spark.sparkContext
    used, unused = sc.accumulator(0), sc.accumulator(0)

    def counting(acc):
        def ident(v):
            acc.add(1)
            return v
        return ident

    df = (
        _fixed_frame(spark)
        .withColumn("y", F.udf(counting(used), "double")("y"))
        .withColumn("u", F.udf(counting(unused), "string")("u"))
    )
    MLP.train(_SMALL_SPEC, df)
    assert used.value == _N_ROWS
    assert unused.value == 0


def test_multi_column_indexer_matches_single_column_indexers(spark):
    """The pipeline's one multi-column StringIndexer learns the same
    labels as one single-column indexer per categorical: frequencyDesc,
    ties broken alphabetically."""
    df = _fixed_frame(spark)
    [indexer] = [
        s for s in MLP.build_pipeline(_SMALL_SPEC).getStages()
        if isinstance(s, StringIndexer)
    ]
    multi = [list(ls) for ls in indexer.fit(df).labelsArray]
    singles = [
        list(
            StringIndexer(inputCol=c, outputCol=f"{c}_index", handleInvalid="keep")
            .fit(df)
            .labelsArray[0]
        )
        for c in _CATS
    ]
    assert multi == singles
    assert multi == [["a", "b", "c", "d"], ["y", "z"], ["k", "m"], ["r", "p", "q"]]


def test_train_fits_the_same_forest_as_the_plain_pipeline(spark):
    """Pruning and persisting the fit input leaves the fitted forest
    unchanged (the debug string's first line carries the model uid)."""
    df = _fixed_frame(spark)

    def trees(model):
        return model.stages[-1].toDebugString.split("\n", 1)[1]

    assert trees(MLP.train(_SMALL_SPEC, df)) == trees(
        MLP.build_pipeline(_SMALL_SPEC).fit(df)
    )


def test_training_frame_shape(spark):
    df = QM.training_frame(spark, SF_SMOKE)
    assert set(df.columns) >= {
        "o_orderkey", "o_orderpriority", "o_orderstatus",
        "n_items", "sum_qty", "avg_discount", "max_extprice", "label",
    }
    labels = {r.label for r in df.select("label").distinct().collect()}
    assert labels == {0.0, 1.0}


def test_rf_accuracy_floor_and_determinism(spark):
    train_df, test_df = _splits(spark)
    model = MLP.train(QM.SPEC, train_df)
    acc = MLP.evaluate_accuracy(model, test_df)
    # sum_qty/max_extprice strongly predict totalprice>mean; the floor is
    # far above the majority-class rate (~0.6)
    assert acc >= 0.8, f"accuracy {acc}"
    # seeded fit on identical data is deterministic
    acc2 = MLP.evaluate_accuracy(MLP.train(QM.SPEC, train_df), test_df)
    assert acc == acc2


def test_fit_on_train_reuse_on_test(spark):
    """The M1/M3 contract: indexer labels, imputation means and scaler
    stds come from TRAIN only — transforming test twice with the fitted
    model gives identical output (no per-dataset refit)."""
    train_df, test_df = _splits(spark)
    model = MLP.train(QM.SPEC, train_df)
    a = model.transform(test_df).select("o_orderkey", "prediction")
    b = model.transform(test_df).select("o_orderkey", "prediction")
    assert a.exceptAll(b).count() == 0

    # unseen categorical values must survive (handleInvalid='keep')
    weird = test_df.withColumn("o_orderpriority", F.lit("9-NEVER-SEEN"))
    assert model.transform(weird).count() == weird.count()


def test_model_save_load_roundtrip(spark, tmp_path):
    """S8: persisted PipelineModel reproduces predictions exactly."""
    train_df, test_df = _splits(spark)
    model = MLP.train(QM.SPEC, train_df)
    path = str(tmp_path / "rf_model")
    MLP.save_model(model, path)
    reloaded = MLP.load_model(path)
    a = model.transform(test_df).select("o_orderkey", "prediction").collect()
    b = reloaded.transform(test_df).select("o_orderkey", "prediction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_feature_importances_named_and_normalized(spark):
    train_df, _ = _splits(spark)
    model = MLP.train(QM.SPEC, train_df)
    pairs = MLP.feature_importances(model, QM.SPEC)
    assert [p[0] for p in pairs[:0]] == []
    names = {p[0] for p in pairs}
    assert names == set(QM.SPEC.feature_cols)
    total = sum(p[1] for p in pairs)
    assert abs(total - 1.0) < 1e-6
    # the price-correlated features should dominate the priority flag
    imp = dict(pairs)
    assert imp["max_extprice"] + imp["sum_qty"] > imp["o_orderpriority_index"]


def test_split_frames_deterministic_and_disjoint(spark):
    """The md5-bucket split is an exact partition of the frame, stable
    across evaluations (no RNG state — the property randomSplit lacks)."""
    df = QM.training_frame(spark, SF_SMOKE)
    train, test = QM.split_frames(df)
    total = df.count()
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == total
    assert train.join(test, "o_orderkey", "inner").count() == 0
    train2, test2 = QM.split_frames(df)
    assert train2.count() == n_train and test2.count() == n_test
    # roughly 80/20 (md5 buckets are uniform)
    assert 0.7 < n_train / total < 0.9


def test_model_disk_cache_roundtrip(spark, tmp_path, monkeypatch):
    """The S8 disk cache: a fresh lookup (cleared session cache) loads
    the persisted model WITHOUT refitting and reproduces the fresh
    fit's predictions exactly — same contract as
    test_model_save_load_roundtrip, but through the query-layer cache."""
    monkeypatch.setattr(QM, "_CACHE_ROOT", str(tmp_path / "mlcache"))
    QM._model_cache.clear()
    model1, n_tr1, n_te1, preds1 = QM._fitted(spark, SF_SMOKE)
    rows1 = sorted(map(tuple, preds1.collect()))

    QM._model_cache.clear()

    def _refit_forbidden(*a, **k):
        raise AssertionError("refit happened despite a valid disk cache")

    monkeypatch.setattr(MLP, "train", _refit_forbidden)
    model2, n_tr2, n_te2, preds2 = QM._fitted(spark, SF_SMOKE)
    assert (n_tr1, n_te1) == (n_tr2, n_te2)
    assert sorted(map(tuple, preds2.collect())) == rows1

    test_df = QM.split_frames(QM.training_frame(spark, SF_SMOKE))[1]
    a = model1.transform(test_df).select("o_orderkey", "prediction").collect()
    b = model2.transform(test_df).select("o_orderkey", "prediction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    QM._model_cache.clear()


def test_rf_hyperparameter_tuning_surface(spark):
    """TrainValidationSplit over a small grid: returns one metric per
    grid point, best model predicts, and the best metric is the max."""
    from big_data_imdb_classifier_spark.ml.pipeline import ClassifierSpec, tune_rf
    from big_data_imdb_classifier_spark.plans.queries_ml import SPEC, training_frame

    df = training_frame(spark, "/root/testdata/sf0.001")
    spec = ClassifierSpec(
        numeric_cols=SPEC.numeric_cols,
        categorical_cols=SPEC.categorical_cols,
    )
    best, metrics = tune_rf(
        spec, df, num_trees_grid=[5, 10], max_depth_grid=[3], train_ratio=0.75
    )
    assert len(metrics) == 2
    assert all(0.0 <= m <= 1.0 for _, _, m in metrics)
    best_acc = max(m for _, _, m in metrics)
    assert any(abs(m - best_acc) < 1e-12 for _, _, m in metrics)
    preds = best.transform(df)
    assert preds.select("prediction").distinct().count() >= 1


def test_als_gate_invariants_hold_at_smoke_sf(spark):
    """The ALS gate booleans must be sf-independent (the rank-1 derived
    rating exists precisely so the RMSE floor survives scale changes —
    log1p(count) ratings degenerate at sf0.1). All six gate columns
    true at the smoke SF, rank pinned to 8."""
    row = QM.ml_als_recommender_gate(spark, SF_SMOKE).collect()[0]
    assert row["recovers_lowrank"]
    assert row["predictions_finite"]
    assert row["factor_rank_correct"]
    assert row["factors_cover_all"]
    assert row["recs_valid"]
    assert row["rank"] == 8
