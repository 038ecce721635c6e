"""Similarity search: exact-baseline sanity and ANN recall gates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark.operators import similarity as SIM

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_harness import _canon_frame


def _emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def test_dot_and_norm_basics(spark):
    df = spark.createDataFrame([([3.0, 4.0], [1.0, 0.0])], ["a", "b"])
    row = df.select(
        SIM.dot_col(F.col("a"), F.col("b")).alias("dot"),
        SIM.l2_norm_col(F.col("a")).alias("na"),
        SIM.cosine_col(F.col("a"), F.col("b")).alias("cos"),
    ).first()
    assert row.dot == 3.0
    assert row.na == 5.0
    assert math.isclose(row.cos, 0.6)


def test_knn_exact_self_excluded_and_ranked(spark):
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 3)
    out = SIM.knn_exact_cosine(emb, queries, k=5).collect()
    by_q: dict[int, list] = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_ann_recall_at_10(spark):
    """Hyperplane-LSH candidates must recover >=85% of the exact top-10
    (deterministic: seeded planes + fixed testdata; measured 0.90)."""
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.knn_exact_cosine(emb, queries, k=10).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in SIM.knn_ann_hyperplane(emb, queries, k=10).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.85, f"ANN recall@10 too low: {recall}"


def test_ann_sims_are_exact_on_candidates(spark):
    """ANN reports *exact* cosine for every candidate it returns — the
    approximation is only in candidate generation."""
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 2)
    exact = {
        (r.query_id, r.neighbor_id): r.sim
        for r in SIM.knn_exact_cosine(emb, queries, k=50).collect()
    }
    for r in SIM.knn_ann_hyperplane(emb, queries, k=10).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert math.isclose(r.sim, exact[key], rel_tol=1e-9)


def test_semdedup_coverage_and_candidate_bound(spark):
    """Cluster-local semantic dedup (SemDeDup shape): every emitted
    pair must be a TRUE pair of the exact all-pairs baseline (the
    verify step is exact cosine, so precision is 1 by construction),
    coverage of the exact pair set must clear the measured floor for
    this corpus (0.93 at the oracle SF; floored at 0.85), and the
    candidate volume must stay well under the quadratic all-pairs count
    (the whole point of the cluster blocking)."""
    emb = _emb(spark)
    n = emb.count()
    k_cells, _, _ = SIM.ivf_params(n)
    got = {
        (r.vec_a, r.vec_b)
        for r in SIM.semantic_dedup_cell_pairs(
            emb, threshold=0.45, n_clusters=k_cells, n_soft=2
        ).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in SIM.cosine_pairs_blocked(emb, threshold=0.45).collect()
    }
    assert got <= exact, f"false pairs: {got - exact}"
    coverage = len(got) / max(len(exact), 1)
    assert coverage >= 0.85, f"semdedup coverage too low: {coverage}"
    # candidate bound: same-cell pairs with soft=2 must stay far below
    # the all-pairs count
    sample = SIM.strided_sample_vectors(emb)
    centers = SIM.lloyd_centers_deterministic(sample, k_cells)
    cells = emb.select(
        "vec_id",
        F.explode(SIM.probe_cells_col(centers, 2, "embedding")).alias("c"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    n_cand = (
        a.join(b, F.col("a.c") == F.col("b.c"))
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .count()
    )
    assert n_cand < 0.35 * n * (n - 1) / 2, n_cand


def test_ivf_recall_at_10(spark):
    """IVF multi-probe must recover most of the exact top-10. Random
    embeddings are the worst case for IVF (no cluster structure), so the
    floor is modest — the contract is 'candidates shrink, quality mostly
    survives', not exactness."""
    from big_data_imdb_classifier_spark.operators import similarity as SIM
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from pyspark.sql import functions as F
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = SIM.knn_exact_cosine(emb, queries, k=10)
    ivf = SIM.knn_ivf(emb, queries, k=10, n_clusters=8, n_probe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall
    # and every IVF hit must carry the true cosine (verify step is exact)
    sims_exact = {(r.query_id, r.neighbor_id): r.sim for r in exact.collect()}
    for r in ivf.collect():
        if (r.query_id, r.neighbor_id) in sims_exact:
            assert abs(r.sim - sims_exact[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ivf_pq_recall_and_exact_rerank(spark):
    """IVF-PQ: 32x-compressed codes + ADC shortlist + exact re-rank must
    (a) recover most of the exact top-10 (floor matches plain IVF — the
    coarse probing, not the quantization, caps recall) and (b) report
    TRUE cosines on everything it returns (the re-rank stage is exact)."""
    from pyspark.sql import functions as F

    from big_data_imdb_classifier_spark.operators import similarity as SIM
    from big_data_imdb_classifier_spark.sources.readers import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = SIM.knn_exact_cosine(emb, queries, k=10)
    pq = SIM.knn_ivf_pq(emb, queries, k=10, n_clusters=8, n_probe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = pq.collect()
    a = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall
    # returned sims are exact cosines, not ADC approximations
    truth = {
        (r.query_id, r.neighbor_id): r.sim
        for r in SIM.knn_exact_cosine(emb, queries, k=len(rows) + 10).collect()
    }
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in truth:
            assert abs(r.sim - truth[key]) < 1e-9


def test_pq_codebooks_deterministic_and_shaped():
    """Codebook training is deterministic and shape-stable."""
    import numpy as np

    from big_data_imdb_classifier_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    sample = rng.normal(size=(200, 64))
    b1 = SIM.pq_train_codebooks(sample, m=8, n_codes=16)
    b2 = SIM.pq_train_codebooks(sample, m=8, n_codes=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    # RNG-free: every coordinate sits on the rounding grid the SQL
    # oracle replays.
    assert np.array_equal(
        b1, np.round(b1, SIM.LLOYD_CENTER_DIGITS)
    )


def test_ivf_params_scaling():
    """Index sizing: √N cells (floored at the 16/4/8 demo values), 40%
    probe fraction, √N-proportional re-rank budget — all monotone in N
    and exactly the demo floor at tiny corpora. Lloyd trains at most
    one center per sample row, so at any N the probe count stays at
    40% of the cells the sample can train."""
    ivf_params = SIM.ivf_params
    assert ivf_params(50) == (16, 6, 8)
    assert ivf_params(256) == (16, 6, 8)
    nc, np_, rf = ivf_params(20_000)
    assert nc == 141 and np_ == round(141 * 0.4) and rf == 141 // 4
    prev = (0, 0, 0)
    for n in [10, 100, 1_000, 10_000, 100_000, 1_000_000, 10**8, 10**9, 10**10]:
        cur = ivf_params(n)
        assert all(c >= p for c, p in zip(cur, prev)), (n, cur, prev)
        trainable = min(cur[0], SIM.SAMPLE_LIMIT)
        assert cur[1] <= round(0.4 * trainable), (n, cur)
        prev = cur


def test_corpus_row_count_file_dir_and_missing(spark, tmp_path):
    """The footer row-count probe handles every corpus layout the
    engine itself produces: single file → footer num_rows; directory of
    Spark part files → sum over part footers. A missing or non-parquet
    table raises ValueError naming its path."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_imdb_classifier_spark.sources.readers import table_row_count

    tbl = pa.table({"vec_id": list(range(7))})
    single = tmp_path / "emb_single"
    single.mkdir()
    pq.write_table(tbl, single / "embeddings.parquet")
    assert table_row_count(str(single), "embeddings") == 7

    # Spark-written layout: a DIRECTORY named embeddings.parquet.
    multi = tmp_path / "emb_multi"
    (
        spark.range(123)
        .withColumnRenamed("id", "vec_id")
        .repartition(4)
        .write.parquet(str(multi / "embeddings.parquet"))
    )
    assert table_row_count(str(multi), "embeddings") == 123

    missing = tmp_path / "nope"
    with pytest.raises(ValueError, match=re.escape(str(missing))):
        table_row_count(str(missing), "embeddings")
    garbage = tmp_path / "emb_bad"
    garbage.mkdir()
    (garbage / "embeddings.parquet").write_bytes(b"not parquet")
    with pytest.raises(ValueError, match=re.escape(str(garbage))):
        table_row_count(str(garbage), "embeddings")


@pytest.fixture(scope="module")
def tiled_corpus(tmp_path_factory):
    """SF_SMOKE's embeddings tiled 8× with seeded 0.05 jitter (4,000
    rows): enough rows that an IVF index sized for 10⁵ rows keeps fewer
    cells than it trains, so a shortlist would really prune."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    emb = np.stack(src.column("embedding").to_pylist()).astype(np.float64)
    rng = np.random.RandomState(0)
    tiles = [emb] + [emb + rng.normal(0.0, 0.05, emb.shape) for _ in range(7)]
    vecs = np.concatenate(tiles).astype(np.float32)
    out = tmp_path_factory.mktemp("tiled")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.concat_arrays(
                    [src.column("label").combine_chunks()] * len(tiles)
                ),
            }
        ),
        out / "embeddings.parquet",
    )
    return str(out)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding_cosine",
        "knn_hard_negative_mining",
        "sim_maxsim_multivector",
        "knn_matryoshka_dim_recall",
    ],
)
def test_exact_query_answer_ignores_corpus_size(
    name, spark, monkeypatch, tiled_corpus
):
    """An exact similarity query has one plan: the corpus size read from
    parquet footers must not change its answer. Reporting 10⁵ or 10⁹
    rows for the 4,000-row corpus (patched where the similarity plans
    look it up) returns the same canonical frame as the true count."""
    from big_data_imdb_classifier_spark.plans import QUERIES, load_all
    from big_data_imdb_classifier_spark.plans import queries_similarity

    load_all()
    want = _canon_frame(QUERIES[name](spark, tiled_corpus).toPandas())
    for rows in (10**5, 10**9):
        monkeypatch.setattr(
            queries_similarity, "table_row_count", lambda *a, n=rows: n
        )
        got = _canon_frame(QUERIES[name](spark, tiled_corpus).toPandas())
        assert got == want, rows


def test_semdedup_coverage_at_production_threshold(spark):
    """VERDICT r8 task 7: the 0.45-cosine demo threshold is where
    cluster-locality is WEAKEST (0.58 coverage at sf0.1, documented
    since r6) — real dedup runs use tight thresholds, where near-dup
    pairs are almost parallel vectors that quantize into the same
    Lloyd cell. Pin that regime: on a corpus with planted >=0.9-cosine
    near-duplicates (the stock test embeddings have none above 0.85),
    the cell-local enumeration must emit only true pairs, cover >=0.9
    of the exact >=0.9 pair set, and keep its candidate volume far
    below all-pairs."""
    import numpy as np

    base = _emb(spark).toPandas()
    dim = len(base["embedding"].iloc[0])
    rng = np.random.RandomState(11)
    rows = []
    # 80 planted near-dups: unit-scale jitter sized for ~0.93-0.99
    # cosine against the original.
    for i in range(80):
        src = np.asarray(base["embedding"].iloc[i * 5], dtype=np.float64)
        noise = rng.normal(0.0, 0.12 * np.linalg.norm(src) / np.sqrt(dim),
                           size=dim)
        rows.append((10_000 + i, (src + noise).astype(np.float32).tolist(),
                     "dup"))
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    emb = (
        spark.createDataFrame(base[["vec_id", "embedding", "label"]])
        .select(
            F.col("vec_id").cast("long"),
            F.col("embedding").cast("array<float>"),
            "label",
        )
        .unionByName(planted)
    )
    n = emb.count()
    k_cells, _, _ = SIM.ivf_params(n)

    exact = {
        (r.vec_a, r.vec_b)
        for r in SIM.cosine_pairs_blocked(emb, threshold=0.9).collect()
    }
    assert len(exact) >= 60, f"too few planted pairs materialized: {len(exact)}"

    got = {
        (r.vec_a, r.vec_b)
        for r in SIM.semantic_dedup_cell_pairs(
            emb, threshold=0.9, n_clusters=k_cells, n_soft=2
        ).collect()
    }
    assert got <= exact, f"false pairs at 0.9: {got - exact}"
    coverage = len(got) / len(exact)
    assert coverage >= 0.9, (
        f"production-threshold coverage {coverage:.3f} below 0.9 floor"
    )

    # Candidate-volume bound: same-cell (soft=2) pair count stays far
    # below the all-pairs quadratic.
    sample = SIM.strided_sample_vectors(emb)
    centers = SIM.lloyd_centers_deterministic(sample, k_cells)
    cells = emb.select(
        "vec_id",
        F.explode(SIM.probe_cells_col(centers, 2, "embedding")).alias("c"),
    )
    cand = (
        cells.alias("a")
        .join(cells.alias("b"), "c")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    assert cand < 0.5 * all_pairs, (
        f"candidate volume {cand} not sub-quadratic vs {all_pairs}"
    )
