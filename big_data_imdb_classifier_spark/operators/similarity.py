"""Vector similarity search over ``array<float>`` embedding columns.

Exact path: higher-order-function dot products (JVM-side, codegen) + a
row_number window for top-k — the correctness baseline, O(Q×N) but fully
distributed with the query side broadcast.

Scale path: random-hyperplane LSH (the cosine-space analogue of MinHash
banding). ``tables`` independent b-bit sketches; vectors that share any
table's bucket become candidates, and only candidates pay the exact
cosine. Hyperplanes are seeded literals compiled into the plan, so the
sketch is a pure projection — no model object, no fitting, no shuffle
until the bucket join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-accumulation double dot product (matches DuckDB
    list_dot_product on DOUBLE[] to well under rounding tolerance)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (l2_norm_col(a) * l2_norm_col(b))


def knn_exact_cosine(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    the (huge) vector corpus; one pass over the corpus computes every
    (query, candidate) similarity map-side, then a single shuffle ranks
    per query. Deterministic tiebreak on neighbor id.

    Returns (query_id, neighbor_id, rank, sim).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qe")
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_ce")
    )
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(F.col("_qe"), F.col("_ce")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.col("_sim").alias("sim"))
    )


def _rerank_cosine(
    cand: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine top-k over a (query_id, neighbor_id) shortlist — the
    re-rank stage of every approximate search here. Same output and
    tiebreak as knn_exact_cosine, but the corpus join touches only
    shortlisted rows."""
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qe"))
    c = vectors.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_ce"))
    sims = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(F.col("_qe"), F.col("_ce")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.col("_sim").alias("sim"))
    )


def ivf_candidate_pairs(
    vectors: DataFrame,
    queries: DataFrame,
    n_corpus: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: "np.ndarray | None" = None,
) -> DataFrame:
    """(query_id, neighbor_id) IVF cell-probe shortlist built once and
    passed as ``cand`` to both ``knn_ivf`` and ``knn_ivf_pq`` (the
    recall gate), which re-rank these pairs. Index parameters scale
    with the corpus (√N cells, 40% probe — ivf_params), so the
    per-query candidate pool is ~n_probe/n_clusters of the corpus
    instead of all of it. ``sample``: see knn_ivf — skips this build's
    sampling scan when the caller already collected the identical
    strided sample."""
    n_clusters, n_probe, _ = ivf_params(n_corpus)
    if sample is None:
        sample = strided_sample_vectors(
            vectors, id_col, vec_col, n_rows=n_corpus
        )
    centers = lloyd_centers_deterministic(sample, n_clusters)
    return _cell_probe_pairs(vectors, queries, centers, n_probe, id_col, vec_col)


def _cell_probe_pairs(
    vectors: DataFrame,
    queries: DataFrame,
    centers: np.ndarray,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) pairs whose corpus row falls in
    one of the query's ``n_probe`` nearest cells of ``centers``."""
    corpus_cells = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        assign_cells_col(centers, vec_col).alias("cell"),
    )
    q_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(probe_cells_col(centers, n_probe, vec_col)).alias("cell"),
    )
    return (
        q_cells.join(corpus_cells, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def lsh_planes(
    dim: int = 64, bits: int = 4, tables: int = 24, seed: int = 42
) -> np.ndarray:
    """The seeded hyperplane matrix (tables*bits, dim) — a plan LITERAL,
    shared by the bucketing pandas_udf and the DuckDB oracle (which
    embeds the same doubles as SQL literals, so both engines bucket with
    bit-identical planes)."""
    return np.random.RandomState(seed).normal(size=(tables * bits, dim))


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    tables: int = 24,
    seed: int = 42,
) -> DataFrame:
    """Sign-of-projection sketch: ``tables`` independent ``bits``-bit
    bucket keys per vector, exploded to (id, table, bucket) rows.

    The hyperplanes are a seeded matrix captured in an Arrow pandas_udf:
    the whole sketch is ONE batched matmul per Arrow batch
    ((batch×dim) @ (dim×tables·bits) → signs → bit-pack), then a JVM-side
    posexplode. A per-plane expression-tree formulation (tables×bits
    interpreted higher-order aggregates per row) measured ~50× slower —
    this is the case where the built-ins genuinely can't express the op
    efficiently and the Arrow path is the idiomatic choice.
    """
    planes = lsh_planes(dim, bits, tables, seed)  # (P, dim)
    weights = (2 ** np.arange(bits, dtype=np.int64))  # bit-pack per table

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (B, dim) float
        signs = (m.astype(np.float64) @ planes.T) > 0  # (B, P)
        packed = signs.reshape(len(m), tables, bits) @ weights  # (B, tables)
        return pd.Series(list(packed))

    return df.select(
        F.col(id_col),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("table", "bucket"),
    )


def knn_ann_hyperplane(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    tables: int = 24,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: LSH bucket join → candidate set → exact cosine
    on candidates only → per-query rank. Work scales with bucket
    collision counts, not corpus size × query count."""
    vb = hyperplane_lsh_buckets(vectors, id_col, vec_col, dim, bits, tables, seed)
    qb = hyperplane_lsh_buckets(queries, id_col, vec_col, dim, bits, tables, seed)
    cand = (
        qb.withColumnRenamed(id_col, "query_id")
        .join(vb, ["table", "bucket"])
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    return _rerank_cosine(cand, vectors, queries, k, id_col, vec_col)


# Rows in the strided training sample of every IVF, IVF-PQ and SemDeDup
# index (strided_sample_vectors). Lloyd trains at most one center per
# sample row, so it also caps the cell count (ivf_params).
SAMPLE_LIMIT = 10_000


def ivf_params(n_vectors: int) -> tuple[int, int, int]:
    """Corpus-size-scaled IVF index parameters: ``n_clusters ≈ √N``
    (the standard IVF sizing rule — cells stay ~√N vectors each),
    capped at ``SAMPLE_LIMIT`` because Lloyd trains at most one center
    per sample row (past the cap, n_probe would reach every trained
    cell and stop pruning), with a constant 40% probe fraction,
    floored at the (16, 4) demo values so tiny smoke corpora keep
    their historical behavior. Fixed (16, 4) at
    every scale is exactly the config a real deployment would NOT run:
    at 10× the corpus each cell holds 10× the vectors and recall decays
    (measured on the 10× rehearsal corpus: IVF recall@10 0.58 fixed vs
    0.86 scaled; IVF-PQ fell through its 0.5 floor fixed). The probe
    fraction is the recall/cost dial; 40% measured 0.80–0.90 IVF recall
    across every SF decade while still pruning ~60% of the corpus —
    production would tune it per workload.

    The third value is the IVF-PQ re-rank budget multiplier: shortlist
    = k·refine with refine ∝ n_clusters (i.e. √N), so the exact re-rank
    grows SUBLINEARLY while the ADC-scored candidate pool grows with N.
    A fixed shortlist is the scaled index's failure mode — at 10× the
    pool, k·8 of ~8 000 ADC-scored candidates measured recall 0.40;
    √N-scaled (k·35) measured ≥0.62, floors met at every decade."""
    n_clusters = min(SAMPLE_LIMIT, max(16, int(n_vectors ** 0.5)))
    return (
        n_clusters,
        max(4, round(n_clusters * 0.4)),
        max(8, n_clusters // 4),
    )


# Deterministic Lloyd quantizer constants, shared VERBATIM with the
# DuckDB oracle (plans/queries_similarity._ivf_oracle): per-round means
# and pre-argmin distances are rounded so numpy-vs-SQL accumulation ulps
# are overwhelmingly unlikely to flip an assignment. RESIDUAL RISK,
# quantified (same honesty convention as _lsh_oracle): the rounding is
# applied AFTER accumulation — numpy BLAS reduces pairwise, DuckDB's
# list_dot_product sequentially — so two pre-round values within ~1 ulp
# of each other CAN straddle a 1e-9 grid boundary. With ~dim ulp-scale
# accumulation error on O(1)-magnitude sums, the per-comparison straddle
# probability is ~1e-7; across the ~1e7 rounded distances of a full
# quantizer+codebook training a single flip is plausible on a different
# corpus or BLAS build, and one flipped argmin cascades through all
# later Lloyd rounds and fails the hash gate. A flaky IVF/IVF-PQ hash
# failure on a new corpus/BLAS should be diagnosed as this known
# FP-boundary case, not engine nondeterminism.
LLOYD_ITERS = 5
LLOYD_CENTER_DIGITS = 6
LLOYD_DIST_DIGITS = 9


def strided_sample_vectors(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> np.ndarray:
    """Bounded deterministic training sample: every ⌈N/SAMPLE_LIMIT⌉-th id,
    spanning the whole id range (a head-of-table sample is biased once
    ids correlate with content — see knn_ivf_pq). Returns float64
    (S, dim).

    ``n_rows``: the corpus row count when the CALLER already knows it
    (parquet-footer metadata via readers.table_row_count, or a threaded
    n_corpus) — skips the ``count()`` cluster job this function
    otherwise pays just to size the stride (round 9: every index build
    ran one redundant full-table count at query CONSTRUCTION; at 100 TB
    that is a full scan job per index for a number the driver can read
    from file metadata). Must equal the true count — the stride, and
    therefore the sample and everything trained from it, depends on it."""
    n_vecs = n_rows if n_rows else vectors.count()
    stride = max(1, -(-n_vecs // SAMPLE_LIMIT))
    rows = (
        vectors.where(F.pmod(F.col(id_col), F.lit(stride)) == 0)
        .orderBy(id_col)
        .limit(SAMPLE_LIMIT)
        .select(vec_col)
        .collect()
    )
    return np.array([r[0] for r in rows], dtype=np.float64)


def _sq_dists_rounded(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Rounded squared distances via the Σx²+Σc²−2x·c decomposition —
    the SAME formula shape the SQL oracle uses, so both engines round
    the same three dot sums."""
    d = (
        (x * x).sum(axis=1)[:, None]
        + (centers * centers).sum(axis=1)[None, :]
        - 2.0 * (x @ centers.T)
    )
    return np.round(d, LLOYD_DIST_DIGITS)


def lloyd_centers_deterministic(
    sample: np.ndarray, n_clusters: int, n_iter: int = LLOYD_ITERS
) -> np.ndarray:
    """RNG-FREE Lloyd clustering on the bounded sample: init = the first
    ``n_clusters`` sample rows (id order), then ``n_iter`` fixed rounds
    of rounded-distance argmin (ties → lowest cell id, numpy first-min)
    and per-cell means rounded to LLOYD_CENTER_DIGITS; an emptied cell
    keeps its previous center. Every step is replayable in SQL, which is
    what makes the IVF search oracle-checkable end-to-end — MLlib's
    KMeans (kmeans|| RNG init) is not."""
    k = min(n_clusters, len(sample))
    centers = np.round(sample[:k].copy(), LLOYD_CENTER_DIGITS)
    for _ in range(n_iter):
        assign = _sq_dists_rounded(sample, centers).argmin(axis=1)
        new = centers.copy()
        for c in range(k):
            mask = assign == c
            if mask.any():
                new[c] = np.round(
                    sample[mask].mean(axis=0), LLOYD_CENTER_DIGITS
                )
        centers = new
    return centers


def assign_cells_col(centers: np.ndarray, vec_col: str = "embedding"):
    """Arrow-batched corpus→cell assignment against the deterministic
    centers (rounded-distance argmin, ties → lowest cell id)."""

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(
            _sq_dists_rounded(m, centers).argmin(axis=1).astype(np.int32)
        )

    return assign(F.col(vec_col))


def probe_cells_col(
    centers: np.ndarray, n_probe: int, vec_col: str = "embedding"
):
    """Arrow-batched query-side multi-probe: the ``n_probe`` nearest
    cells by rounded distance, ties → lowest cell id (stable argsort)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        d = _sq_dists_rounded(m, centers)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return probe(F.col(vec_col))


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    n_rows: int | None = None,
    sample: np.ndarray | None = None,
    cand: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path next
    to hyperplane LSH: a DETERMINISTIC Lloyd coarse quantizer
    (lloyd_centers_deterministic — RNG-free, trained on the strided
    bounded sample) partitions the corpus into ``n_clusters`` cells; each
    query probes only its ``n_probe`` nearest cells and pays exact cosine
    on those candidates.

    Corpus cell assignment is one Arrow pass against the tiny centroid
    matrix riding the closure; work per query scales with
    n_probe/n_clusters of the corpus, and the cell assignment is
    re-usable (in production: computed once, stored as a column,
    partition-pruned at read time). Because the quantizer is replayable
    in SQL, the WHOLE search hash-matches its DuckDB oracle. ``n_rows``: see
    strided_sample_vectors — skips the stride-sizing count job when the
    caller already knows the corpus size. ``sample``: the caller's
    already-collected strided sample (same corpus) —
    skips this build's sampling scan when another index over the same
    corpus collected the identical sample (round 10: the recall gate
    builds IVF and IVF-PQ side by side; each sampling pass is a full
    corpus scan at 100 TB). ``cand``: the caller's already-built
    (query_id, neighbor_id) cell-probe shortlist (ivf_candidate_pairs
    with the same corpus/params — identical to what this function
    builds itself); passing the SAME DataFrame object to sibling
    searches in one action lets runtime exchange reuse evaluate the
    corpus cell-assign pass and the candidate distinct once instead of
    once per search.
    """
    if cand is None:
        if sample is None:
            sample = strided_sample_vectors(
                vectors, id_col, vec_col, n_rows=n_rows
            )
        centers = lloyd_centers_deterministic(sample, n_clusters)
        cand = _cell_probe_pairs(
            vectors, queries, centers, n_probe, id_col, vec_col
        )
    return _rerank_cosine(cand, vectors, queries, k, id_col, vec_col)


def semantic_dedup_cell_pairs(
    vectors: DataFrame,
    threshold: float,
    n_clusters: int,
    n_soft: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style CLUSTER-LOCAL semantic near-duplicate pairs
    (Abbas et al. 2023, arXiv:2303.09540): partition the corpus with
    the deterministic Lloyd coarse quantizer, emit exact-cosine pairs ≥
    ``threshold`` only among vectors sharing a cell — the production
    semantic-dedup shape, where cross-cluster pairs are dropped BY
    DESIGN rather than paying the all-pairs quadratic
    (cosine_pairs_blocked stays as the exact oracle baseline).

    ``n_soft`` assigns each vector to its top-``n_soft`` cells (soft
    assignment) so boundary-straddling duplicates still co-locate;
    candidate volume ≈ n_soft²/n_clusters of all pairs, i.e. O(N^1.5)
    with √N cells — sub-quadratic at every scale, and the measured
    coverage vs the exact baseline is pinned by
    tests/test_similarity.py. Same Arrow probe + rounded-distance
    machinery as knn_ivf, so the WHOLE pipeline (training included)
    replays in SQL and hash-matches its oracle. ``n_rows``: see
    strided_sample_vectors."""
    sample = strided_sample_vectors(vectors, id_col, vec_col, n_rows=n_rows)
    centers = lloyd_centers_deterministic(sample, n_clusters)
    cells = vectors.select(
        F.col(id_col),
        F.explode(probe_cells_col(centers, n_soft, vec_col)).alias("_cell"),
    )
    a, b = cells.alias("_sda"), cells.alias("_sdb")
    pc = (
        a.join(b, F.col(f"_sda._cell") == F.col(f"_sdb._cell"))
        .where(F.col(f"_sda.{id_col}") < F.col(f"_sdb.{id_col}"))
        .select(
            F.col(f"_sda.{id_col}").alias("vec_a"),
            F.col(f"_sdb.{id_col}").alias("vec_b"),
        )
        .distinct()
    )
    e = vectors.select(
        F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
    )
    ea, eb = e.alias("_sea"), e.alias("_seb")
    joined = (
        pc.join(ea, F.col("vec_a") == F.col("_sea._id"))
        .join(eb, F.col("vec_b") == F.col("_seb._id"))
        .select(
            "vec_a",
            "vec_b",
            F.col("_sea._v").alias("_va"),
            F.col("_seb._v").alias("_vb"),
        )
    )

    # Arrow-batched exact-cosine verify: an interpreted higher-order
    # cosine per candidate pair measured 5.1 s at sf0.1 (179k pairs ×
    # 64 dims × 3 aggregates); one numpy einsum per Arrow batch is the
    # same vectorized shape as cosine_pairs_blocked, whose numpy
    # accumulation already hash-matches DuckDB at the registry's 1e-6
    # rounding.
    def _verify(batches):
        for b in batches:
            if not len(b):
                continue
            va = np.vstack(b["_va"].to_numpy())
            vb = np.vstack(b["_vb"].to_numpy())
            sim = np.einsum("ij,ij->i", va, vb) / (
                np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
            )
            out = pd.DataFrame(
                {"vec_a": b["vec_a"], "vec_b": b["vec_b"], "sim": sim}
            )
            yield out[out["sim"] >= threshold]

    return joined.mapInPandas(_verify, "vec_a long, vec_b long, sim double")


def cosine_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    block_size: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold via blocked matrix multiply —
    the GEMM shape of the quadratic baseline.

    A naive self-join evaluates three expression-tree aggregates (dot +
    two norms) PER PAIR: measured 157 s at sf0.1. Here each vector is
    L2-normalized ONCE (norms are N work, not N² — cosine becomes a bare
    dot product), vectors are grouped into ``block_size`` blocks, and
    every block pair is one Arrow task computing all cross-pair sims as a
    single numpy matmul — the same vectorize-don't-iterate decision as
    ``knn_ann_hyperplane``'s sketch. Measured ~2 s on the same input
    (~75×).

    Cost shape: one shuffle to build blocks, then (N/B)² block-pair
    tasks of B×B matmul. Still quadratic — that's what EXACT all-pairs
    means — but with the constant factor of BLAS instead of a per-row
    interpreter, and B tunes task memory (B·dim doubles per side). At
    corpus scale the LSH bucket path replaces the block cross-join;
    this operator is its verify stage and correctness oracle.
    """
    e = vectors.select(
        F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
    )
    # normalize once: norms computed N times total, not N² times. The
    # norm goes through its own column first — referencing the aggregate
    # inside the transform lambda would re-evaluate it per ELEMENT
    # (higher-order-function lambdas get no subexpression elimination),
    # turning O(dim) normalization into O(dim²).
    e = (
        e.withColumn("_n", F.sqrt(dot_col(F.col("_v"), F.col("_v"))))
        .withColumn("_u", F.transform("_v", lambda x: x / F.col("_n")))
        .drop("_v", "_n")
    )
    e = e.withColumn("_blk", (F.col("_id") / F.lit(block_size)).cast("long"))
    blocks = e.groupBy("_blk").agg(
        F.collect_list(F.struct("_id", "_u")).alias("_rows")
    )
    ba = blocks.select(F.col("_blk").alias("_ba"), F.col("_rows").alias("_rows_a"))
    bb = blocks.select(F.col("_blk").alias("_bb"), F.col("_rows").alias("_rows_b"))
    # block-pair frame is (N/B)² rows of paired vector blocks; upper
    # triangle only (`<=`), diagonal blocks mask `id_a < id_b` inside.
    pairs = ba.join(bb, F.col("_ba") <= F.col("_bb")).repartition(
        F.col("_ba"), F.col("_bb")
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType(), False),
            T.StructField("vec_b", T.LongType(), False),
            T.StructField("sim", T.DoubleType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            for rows_a, rows_b in zip(pdf["_rows_a"], pdf["_rows_b"]):
                ids_a = np.array([r["_id"] for r in rows_a], dtype=np.int64)
                ids_b = np.array([r["_id"] for r in rows_b], dtype=np.int64)
                A = np.array([r["_u"] for r in rows_a], dtype=np.float64)
                B = np.array([r["_u"] for r in rows_b], dtype=np.float64)
                S = A @ B.T  # all cross-pair cosines in one GEMM
                ia, ib = np.nonzero(
                    (S >= threshold) & (ids_a[:, None] < ids_b[None, :])
                )
                if len(ia):
                    yield pd.DataFrame(
                        {
                            "vec_a": ids_a[ia],
                            "vec_b": ids_b[ib],
                            "sim": S[ia, ib],
                        }
                    )

    return pairs.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized codes under the IVF coarse quantizer — the
# memory-scale path (FAISS IndexIVFPQ shape). At 100 TB of embeddings the
# full float corpus can't be re-read per search; m uint8 codes per vector
# (dim*4 → m bytes, 32× compression at dim=64/m=8) make the candidate
# scan a code-table scan, with exact re-ranking only on a per-query
# shortlist.
# ---------------------------------------------------------------------------


PQ_ITERS = 12


def pq_train_codebooks(
    sample: np.ndarray, m: int = 8, n_codes: int = 16, n_iter: int = PQ_ITERS
) -> np.ndarray:
    """Train per-subspace codebooks over a bounded driver-side sample
    (standard practice: FAISS trains PQ on ~100k sampled vectors
    regardless of corpus size — training is O(sample), never O(corpus)).
    RNG-free: each subspace runs the same deterministic
    Lloyd recipe as the coarse quantizer (first-rows init, rounded-
    distance argmin, rounded per-round means), so the WHOLE IVF-PQ
    search replays in SQL. Returns (m, n_codes, dim//m) float64."""
    n, dim = sample.shape
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    assert n >= n_codes, f"sample {n} smaller than n_codes {n_codes}"
    d_sub = dim // m
    books = np.empty((m, n_codes, d_sub), dtype=np.float64)
    for j in range(m):
        x = sample[:, j * d_sub : (j + 1) * d_sub]
        books[j] = lloyd_centers_deterministic(x, n_codes, n_iter)
    return books


def pq_encode_col(codebooks: np.ndarray, vec_col: str = "embedding"):
    """Arrow-batched encoder: vector → m uint8-range codes (ROUNDED-
    distance argmin per subspace, ties → lowest code — the same
    cross-engine pinning as cell assignment). One matmul-shaped numpy
    pass per batch; the codebooks ride the closure (m*n_codes*d_sub
    doubles — a few KB)."""
    m, n_codes, d_sub = codebooks.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # (B, dim)
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * d_sub : (j + 1) * d_sub]  # (B, d_sub)
            out[:, j] = _sq_dists_rounded(sub, codebooks[j]).argmin(axis=1)
        return pd.Series(list(out))

    return encode(F.col(vec_col))


def knn_ivf_pq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 8,
    n_rows: int | None = None,
    sample: np.ndarray | None = None,
    cand: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate cosine top-k: IVF coarse cells bound WHICH
    vectors are candidates; PQ codes bound what a candidate COSTS.

    Search is the standard two-stage shape: (1) asymmetric-distance
    scoring — the query stays exact, each candidate is reconstructed
    from its m codes inside an Arrow batch (numpy gather + one GEMM
    against the query block) — keeps a per-query shortlist of
    ``k*refine``; (2) exact cosine re-ranks ONLY the shortlist, so full
    float vectors are read for k*refine rows per query, never the
    corpus. Codebooks train on the deterministic bounded sample
    (``SAMPLE_LIMIT`` rows); corpus encoding is one Arrow pass and in
    production is written once as a column next to the cell id.
    """
    # --- coarse quantizer: deterministic Lloyd on the strided bounded
    # sample, shared with knn_ivf. STRIDED by id, not
    # orderBy(id).limit(): a head-of-table sample is BIASED once ids
    # correlate with content (any partitioned/appended corpus does) —
    # measured on the 10× rehearsal corpus, head-sampled codebooks
    # encode the unsampled half of the corpus as near-noise and ADC
    # floods the shortlist with it (recall@10 0.38 head vs ≥0.5
    # strided). The same sample trains the PQ codebooks. ``sample``:
    # see knn_ivf — a caller that already collected the identical
    # strided sample (same corpus) passes it in and this
    # build skips its own sampling scan. ``cand``: see knn_ivf — the
    # caller's shared cell-probe shortlist; the PQ codes join and
    # everything after are unchanged, only the quantizer/assign/probe
    # rebuild is skipped. ---
    if sample is None:
        sample = strided_sample_vectors(vectors, id_col, vec_col, n_rows=n_rows)
    books = pq_train_codebooks(sample, m=m, n_codes=n_codes)

    codes = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode_col(books, vec_col).alias("codes"),
    )
    if cand is None:
        centers = lloyd_centers_deterministic(sample, n_clusters)
        cand = _cell_probe_pairs(
            vectors, queries, centers, n_probe, id_col, vec_col
        )
    cand = cand.join(codes, "neighbor_id")

    # --- stage 1: ADC scoring over codes (query exact, candidate
    # reconstructed from its codebook entries) ---
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qe")
    )
    scored_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("adc_sim", T.DoubleType(), False),
        ]
    )
    flat_books = books.reshape(m * n_codes, -1)  # (m*n_codes, d_sub)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.vstack(pdf["_qe"].to_numpy()).astype(np.float64)  # (B, dim)
            cm = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            # reconstruct candidates: gather each subspace's centroid
            offs = cm + (np.arange(m) * n_codes)[None, :]
            recon = flat_books[offs].reshape(len(pdf), -1)  # (B, dim)
            # Same Σ-decomposition + rounding as the SQL oracle, so the
            # shortlist ORDERING cannot flip on accumulation ulps.
            num = (qm * recon).sum(axis=1)
            den = np.sqrt((qm * qm).sum(axis=1)) * np.maximum(
                np.sqrt((recon * recon).sum(axis=1)), 1e-12
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "adc_sim": np.round(num / den, LLOYD_DIST_DIGITS),
                }
            )

    shortlist = (
        cand.join(F.broadcast(q), "query_id")
        .mapInPandas(adc, schema=scored_schema)
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("adc_sim"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("_r") <= k * refine)
        .select("query_id", "neighbor_id")
    )

    # --- stage 2: exact re-rank of the bounded shortlist ---
    return _rerank_cosine(shortlist, vectors, queries, k, id_col, vec_col)
