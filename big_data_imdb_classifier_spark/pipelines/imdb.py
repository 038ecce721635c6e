"""IMDB end-to-end pipeline: the reference's full runner workflow
(reference movie_pipeline/runner.py:43-153 + classifier_pipeline.py:415-478)
re-expressed Spark-first.

    sources → preprocess → metadata features → cached LLM genre →
    ML pipeline (index/assemble/scale/RF) → True/False TXT sink

Same capabilities, different execution shapes:

* train shards: ONE multi-file scan with declared schema (S2) instead of
  a driver glob + union loop (reference data_utils.py:121-157);
* directing.json column-dict: distributed map-explode pivot (S4) instead
  of driver-side ``json.load`` (data_utils.py:66-100);
* title normalization: Arrow pandas_udf NFKD fold (F1) instead of a
  ``toPandas`` round-trip (data_utils.py:204-215);
* top writer/director: one-shuffle count window + rank window instead of
  groupBy+join-back (data_utils.py:301-344);
* genre enrichment: cache left-join with 'unknown' fallback — the
  cache-first contract of data_utils.py:346-417; a cache miss would go
  through operators/enrichment.enrich_with_cache's mapInPandas path
  (the committed caches cover every id, so inference never fires here);
* all fitted state (imputer means, indexers, scaler stats, RF) lives in
  ONE pyspark.ml Pipeline fit on train and replayed on test — the
  reference refits its scaler per dataset (classifier_pipeline.py:405-407)
  and hand-carries indexer models in a dict (382-396); fitting once is
  both the bug-fix and the scale shape (no second stats pass over test);
* titles pruned before the fit: the NFKD-folded titles are kept on the
  feature frames (reference parity) but are not model features, so
  ``MLP.train`` projects the spec's columns BEFORE persisting the fit
  input. The projection drops the title Arrow UDF from the plan; caching
  the whole frame would instead run it over every train row for nothing.

The extra TMDB CSV (budget/revenue/popularity, reference
classifier_pipeline.py:210-242 + runner's required extra_data path) is
wired via ``load_tmdb`` + ``preprocess_tmdb``: select/rename
imdb_id→tconst, cast the three metrics to double, and impute with
NON-ZERO train means (the reference computes means over ``col > 0.0``
only — a zero budget means "missing" in TMDB). The file is gitignored in
the reference too, so the path stays optional here: when absent, those
features are simply not in the feature vector.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.nfkd import nfkd_fold_col
from ..ml import pipeline as MLP
from ..operators.relational import (
    column_means,
    impute_mean,
    repair_year_bounds,
    top_k_per_group,
)
from ..sources.readers import load_csv, load_csv_glob, load_column_dict_json, load_json
from ..sources.schemas import (
    IMDB_GENRE_CACHE_SCHEMA,
    IMDB_WRITING_SCHEMA,
    imdb_train_schema,
)
from ..logger import get_logger
from ..sources.sinks import save_predictions_txt

log = get_logger(__name__)

NUMERIC_COLS = ["runtimeMinutes", "numVotes"]
CATEGORICAL_COLS = ["writer", "director", "genre", "decade"]
TMDB_COLS = ["budget", "revenue", "popularity"]

SPEC = MLP.ClassifierSpec(
    numeric_cols=NUMERIC_COLS,
    categorical_cols=CATEGORICAL_COLS,
    label_col="label",
)

# Feature spec when the optional TMDB extra data is joined in
# (reference classifier_pipeline.py:459 EXTRA_DATA_TARGET_COLS).
SPEC_WITH_TMDB = MLP.ClassifierSpec(
    numeric_cols=NUMERIC_COLS + TMDB_COLS,
    categorical_cols=CATEGORICAL_COLS,
    label_col="label",
)


@dataclass
class IMDBData:
    train: DataFrame
    test: DataFrame
    writing: DataFrame
    directing: DataFrame
    train_genres: DataFrame
    test_genres: DataFrame
    extra: DataFrame | None = None


def load_tmdb(spark: SparkSession, path: str) -> DataFrame:
    """TMDB extra-data CSV scan (reference classifier_pipeline.py:210-242).

    The raw TMDB dump has ~24 columns whose order is not contractual, so
    a positional StructType would silently mis-map; instead the header
    names the columns (one scan, all-string parse — no inferSchema
    double-scan) and only the id + three target metrics are projected,
    cast to double at scan output. Everything else is pruned before any
    shuffle."""
    raw = spark.read.option("header", True).csv(path)
    return raw.select(
        F.col("imdb_id").alias("tconst"),
        *[F.col(c).cast("double").alias(c) for c in TMDB_COLS],
    )


def tmdb_nonzero_means(extra: DataFrame) -> dict[str, float]:
    """NON-ZERO means of the TMDB metrics in ONE aggregate job (reference
    classifier_pipeline.py:232-242 runs one filter+agg+collect per column
    over ``col > 0.0`` rows — zero budget/revenue is TMDB's 'missing').
    Computed once on the extra table and reused for train AND test, the
    mean_dict contract.

    The ``> 0.0`` predicate is deliberately reference-exact (not the
    ``!= 0.0`` null-treatment impute_mean uses downstream): TMDB metrics
    are non-negative, so the two agree on real data, and parity wins on
    the statistic's definition."""
    row = extra.agg(
        *[F.avg(F.when(F.col(c) > 0.0, F.col(c))).alias(c) for c in TMDB_COLS]
    ).first()
    return {c: (row[c] if row[c] is not None else 1.0) for c in TMDB_COLS}


def load_imdb(
    spark: SparkSession, data_dir: str, test_name: str = "validation",
    llm_name: str = "gemma3_4b", extra_csv_path: str | None = None,
) -> IMDBData:
    """All reference sources, schema-declared, one scan each."""
    return IMDBData(
        extra=load_tmdb(spark, extra_csv_path) if extra_csv_path else None,
        train=load_csv_glob(
            spark, os.path.join(data_dir, "train-*.csv"), imdb_train_schema(True)
        ),
        test=load_csv(
            spark,
            os.path.join(data_dir, f"{test_name}_hidden.csv"),
            imdb_train_schema(False),
        ),
        writing=load_json(
            spark,
            os.path.join(data_dir, "writing.json"),
            IMDB_WRITING_SCHEMA,
            multiline=True,  # the file is one top-level JSON array
        ),
        directing=load_column_dict_json(
            spark,
            os.path.join(data_dir, "directing.json"),
            columns=["movie", "director"],
        ),
        train_genres=load_csv(
            spark,
            os.path.join(data_dir, f"train_{llm_name}_cache.csv"),
            IMDB_GENRE_CACHE_SCHEMA,
        ),
        test_genres=load_csv(
            spark,
            os.path.join(data_dir, f"{test_name}_{llm_name}_cache.csv"),
            IMDB_GENRE_CACHE_SCHEMA,
        ),
    )


def preprocess(df: DataFrame, means: dict[str, float]) -> DataFrame:
    """Numeric repair + title normalization (reference
    classifier_pipeline.py:163-209).

    ``means`` are the TRAIN numeric means (``column_means`` on train),
    shared by the train and test calls — the mean_dict train→test reuse
    contract, computed once.
    """
    for c in ["startYear", "endYear"] + NUMERIC_COLS:
        df = df.withColumn(c, F.col(c).cast("double"))
    df = impute_mean(df, NUMERIC_COLS, means=means)
    df = repair_year_bounds(df, "startYear", "endYear", default_year=2000)
    # NFKD-fold both titles, then cross-coalesce missing ones (F1+F2,
    # reference data_utils.py:187-215 — minus its toPandas round trip).
    pt = nfkd_fold_col("primaryTitle")
    ot = nfkd_fold_col("originalTitle")
    return (
        df.withColumn("_pt", pt)
        .withColumn("_ot", ot)
        .withColumn("primaryTitle", F.coalesce("_pt", "_ot"))
        .withColumn("originalTitle", F.coalesce("_ot", "_pt"))
        .drop("_pt", "_ot")
    )


def top_entity_per_movie(df: DataFrame, entity_col: str) -> DataFrame:
    """movie → its most-frequent writer/director (reference
    data_utils.py:301-344): global entity counts via ONE window (no
    join-back), then rank-1 per movie with a deterministic tiebreak the
    reference lacks."""
    from pyspark.sql import Window

    counted = df.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(entity_col))
    )
    return top_k_per_group(
        counted,
        group_cols=["movie"],
        order_by=[F.desc("_n"), F.asc(entity_col)],
        k=1,
    ).select("movie", entity_col)


def engineer(
    df: DataFrame,
    data: IMDBData,
    genres: DataFrame,
    tmdb_means: dict[str, float] | None = None,
) -> DataFrame:
    """Metadata merge + optional TMDB merge + genre + decade
    (classifier_pipeline.py:320-412 steps 1-6; steps 7-10 live in the ML
    Pipeline)."""
    writers = top_entity_per_movie(data.writing, "writer")
    directors = top_entity_per_movie(data.directing, "director")
    df = (
        df.join(writers, df.tconst == writers.movie, "left")
        .drop("movie")
        .join(directors, df.tconst == directors.movie, "left")
        .drop("movie")
        .join(genres.dropDuplicates(["tconst"]), "tconst", "left")
        .na.fill({"writer": "unknown", "director": "unknown", "genre": "unknown"})
    )
    if data.extra is not None:
        # Left-join the (pruned, 4-column) TMDB frame, then repair nulls
        # (movies absent from TMDB) AND zeros (TMDB's missing marker)
        # with the shared non-zero means — reference
        # classifier_pipeline.py:352-360. The extra side is dim-sized
        # relative to a 100 TB fact; Spark/AQE broadcasts it.
        means = tmdb_means if tmdb_means is not None else tmdb_nonzero_means(
            data.extra
        )
        df = df.join(data.extra.dropDuplicates(["tconst"]), "tconst", "left")
        df = impute_mean(df, TMDB_COLS, means=means, treat_zero_as_null=True)
    decade = F.concat(
        (F.floor(F.col("startYear") / 10) * 10).cast("int").cast("string"),
        F.lit("s"),
    )
    return df.withColumn("decade", decade).drop("startYear", "endYear")


def build_features(
    spark: SparkSession, data: IMDBData
) -> tuple[DataFrame, DataFrame]:
    """(train_features, test_features) — preprocess + engineer both sets,
    train statistics computed once, on train only."""
    means = column_means(data.train, NUMERIC_COLS)
    train = preprocess(data.train, means)
    test = preprocess(data.test, means)
    tmdb_means = tmdb_nonzero_means(data.extra) if data.extra is not None else None
    train = engineer(train, data, data.train_genres, tmdb_means=tmdb_means)
    test = engineer(test, data, data.test_genres, tmdb_means=tmdb_means)
    train = train.withColumn(
        "label", F.when(F.col("label") == "True", 1.0).otherwise(0.0)
    )
    return train, test


def run_imdb(
    spark: SparkSession,
    data_dir: str,
    out_path: str,
    test_name: str = "validation",
    model_path: str | None = None,
    extra_csv_path: str | None = None,
) -> DataFrame:
    """Full train→predict→TXT workflow. Returns the prediction frame."""
    log.info("loading IMDB data from %s (test split: %s)", data_dir, test_name)
    data = load_imdb(
        spark, data_dir, test_name=test_name, extra_csv_path=extra_csv_path
    )
    train_df, test_df = build_features(spark, data)
    spec = SPEC_WITH_TMDB if data.extra is not None else SPEC
    log.info("fitting pipeline (%d features)", len(spec.feature_cols))
    model: PipelineModel = MLP.train(spec, train_df)
    if model_path:
        MLP.save_model(model, model_path)
        log.info("saved model to %s", model_path)
    preds = model.transform(test_df).select("tconst", "prediction")
    save_predictions_txt(preds, out_path, order_col="tconst")
    log.info("wrote predictions to %s", out_path)
    return preds


def main() -> None:
    """CLI mirroring the reference runner's surface (runner.py:55-105)."""
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(description="IMDB end-to-end pipeline")
    ap.add_argument("--data-path", required=True)
    ap.add_argument("--results-path", required=True)
    ap.add_argument("--test-name", default="validation",
                    choices=["validation", "test"])
    ap.add_argument("--model-path", default=None)
    ap.add_argument("--extra-data-path", default=None,
                    help="optional TMDB CSV (budget/revenue/popularity)")
    args = ap.parse_args()
    run_imdb(
        get_spark(),
        data_dir=args.data_path,
        out_path=os.path.join(args.results_path, f"{args.test_name}_preds.txt"),
        test_name=args.test_name,
        model_path=args.model_path,
        extra_csv_path=args.extra_data_path,
    )


if __name__ == "__main__":
    main()
