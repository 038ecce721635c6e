"""Similarity-search queries over the ``embeddings`` table.

Exact cosine top-k carries a full DuckDB oracle (list_dot_product on
DOUBLE[] matches the engine's sequential double accumulation to far
below rounding tolerance). The hyperplane-LSH ANN variant is ALSO fully
hash-matched — its hyperplanes are seeded plan literals, so the oracle
replays the whole index in SQL (see _lsh_oracle). The IVF and IVF-PQ
searches are fully hash-matched too: the deterministic Lloyd quantizer
(RNG-free, SIM.lloyd_centers_deterministic) unrolls into fixed SQL CTE
chains for BOTH the coarse cells and the per-subspace PQ codebooks
(see _ivf_oracle / _ivfpq_oracle), with ADC scores rounded identically
on both engines so the shortlist cut is deterministic. Every
similarity query — and with them the whole registry — carries a full
value-hash oracle; the recall floors (pytest + knn_ann_recall_gate)
remain as the INDEX-QUALITY gates on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as SIM
from ..sources.readers import load_table, table_row_count
from .registry import ROUND_DIGITS, format_doc, query

N_QUERY_VECS = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10


@query(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id, label,
      len(embedding)::BIGINT AS dim,
      round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])),
            {ROUND_DIGITS}) AS l2_norm
    FROM embeddings ORDER BY vec_id
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm via higher-order functions — the smallest
    array-math building block, oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = SIM.as_double("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(SIM.l2_norm_col(e), ROUND_DIGITS).alias("l2_norm"),
    ).orderBy("vec_id")


@query(
    "knn_exact_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id,
        list_dot_product(qe, ce)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS sim
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, rank, round(sim, {ROUND_DIGITS}) AS sim
    FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
    """,
)
def knn_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (query side broadcast, one corpus pass,
    one ranking shuffle) — the ANN correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = SIM.knn_exact_cosine(emb, queries, k=TOP_K)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("sim", ROUND_DIGITS).alias("sim"),
    ).orderBy("query_id", "rank")


@query(
    "label_centroid_norms",
    oracle=f"""
    WITH expanded AS (
      SELECT label, pos, embedding[pos]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)
    ),
    centroid AS (
      SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos
    )
    SELECT label,
      round(sqrt(sum(c * c)), {ROUND_DIGITS}) AS centroid_l2,
      (SELECT count(*) FROM embeddings e WHERE e.label = centroid.label)::BIGINT
        AS n_vecs
    FROM centroid GROUP BY label ORDER BY label
    """,
)
def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 norm: posexplode → two-level agg. The
    elementwise-mean shape every embedding-cluster rollup uses; shuffles
    (label, pos) pairs, never whole vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    expanded = emb.select(
        "label", F.posexplode(SIM.as_double("embedding")).alias("pos0", "v")
    )
    centroid = expanded.groupBy("label", "pos0").agg(F.avg("v").alias("c"))
    counts = emb.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return (
        centroid.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), ROUND_DIGITS).alias("centroid_l2"))
        .join(counts, "label")
        .select("label", "centroid_l2", "n_vecs")
        .orderBy("label")
    )


def _lsh_oracle(
    dim: int = 64, bits: int = 4, tables: int = 24, seed: int = 42
) -> str:
    """Full DuckDB oracle for the hyperplane-LSH ANN search.

    The hyperplanes are seeded plan literals (SIM.lsh_planes), so the
    whole approximate pipeline is deterministic and SQL-expressible: the
    same doubles are embedded as SQL literals (repr() round-trips float64
    exactly), each vector's per-table bucket is the bit-packed sign
    pattern of 4 literal-plane dot products, candidates come from the
    bucket equi-join, and exact cosine + (sim DESC, neighbor) ranking
    mirror knn_exact_cosine's already-hash-matched arithmetic. The only
    cross-engine risk is a projection dot sitting within accumulation
    error of 0 flipping a sign bit — probability ~1e-8 over this corpus.
    """
    planes = SIM.lsh_planes(dim, bits, tables, seed)
    plane_rows = ",\n      ".join(
        f"({pid}, [{', '.join(repr(x) for x in planes[pid])}])"
        for pid in range(tables * bits)
    )
    return f"""
    WITH planes(pid, p) AS (VALUES
      {plane_rows}),
    e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    vb AS MATERIALIZED (
      SELECT vec_id, pid // {bits} AS tbl,
             sum(CASE WHEN list_dot_product(v, p) > 0
                 THEN (1 << (pid % {bits}))::BIGINT ELSE 0 END) AS bucket
      FROM e CROSS JOIN planes GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS neighbor_id
      FROM (SELECT * FROM vb WHERE vec_id < {N_QUERY_VECS}) qb
      JOIN vb ON qb.tbl = vb.tbl AND qb.bucket = vb.bucket
      WHERE qb.vec_id != vb.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
        list_dot_product(qv.v, cv.v)
          / (sqrt(list_dot_product(qv.v, qv.v))
             * sqrt(list_dot_product(cv.v, cv.v))) AS sim
      FROM cand JOIN e qv ON qv.vec_id = cand.query_id
                JOIN e cv ON cv.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, rank, round(sim, {ROUND_DIGITS}) AS sim
    FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank"""


@query("knn_ann_hyperplane_lsh", oracle=_lsh_oracle())
def knn_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH (24 tables × 4
    bits): bucket join → exact cosine on candidates only. Recall@10 vs
    the exact baseline is asserted in tests/test_similarity.py; the
    result set itself is hash-matched against a full DuckDB replay of
    the index (the hyperplanes are seeded plan literals — see
    _lsh_oracle), so this ANN query is no longer rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    out = SIM.knn_ann_hyperplane(emb, queries, k=TOP_K)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("sim", ROUND_DIGITS).alias("sim"),
    ).orderBy("query_id", "rank")


_COS_DUP_THRESHOLD = 0.45


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(sim, {ROUND_DIGITS}) AS sim
    FROM p WHERE sim >= {_COS_DUP_THRESHOLD} ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT all-pairs baseline
    (cosine ≥ threshold) via blocked matrix multiply
    (operators/similarity.cosine_pairs_blocked): vectors L2-normalized
    once, then every block pair is a single numpy GEMM instead of three
    expression-tree aggregates per pair (measured 157 s → ~2 s at
    sf0.1). This is the correctness baseline for semantic dedup at every
    corpus size: the approximate, cluster-local candidate enumeration is
    its own query, ``dedup_embedding_semdedup``, with its own oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.cosine_pairs_blocked(emb, threshold=_COS_DUP_THRESHOLD)
    return pairs.select(
        "vec_a", "vec_b", F.round("sim", ROUND_DIGITS).alias("sim")
    ).orderBy("vec_a", "vec_b")


@query(
    "knn_ann_recall_gate",
    oracle=f"""
    SELECT CAST({N_QUERY_VECS} AS BIGINT) AS n_queries,
           TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok,
           TRUE AS ivfpq_recall_ok
    """,
)
def knn_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated ANN quality: recall@k of all three approximate
    indexes (hyperplane LSH, IVF, IVF-PQ) against the exact cosine
    top-k, computed in-query and asserted against their floors
    (LSH ≥ 0.85, IVF ≥ 0.5, IVF-PQ ≥ 0.5 — the same floors
    tests/test_similarity.py enforces). The ANN result sets themselves
    are hash-matched since round 5; this gate stays as the
    INDEX-QUALITY check (a hash oracle proves the engine computed its
    own index faithfully, not that the index finds true neighbors), the
    same pattern as approx_distinct_parts. The recall join is a
    left_semi on (query, neighbor) over k·|queries| rows — negligible
    next to the searches themselves."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    cols = ["query_id", "neighbor_id"]
    # k·|queries| rows — checkpoint so the O(Q×N) exact search runs once,
    # not once per downstream count.
    exact = (
        SIM.knn_exact_cosine(emb, queries, k=TOP_K)
        .select(cols)
        .localCheckpoint(eager=True)
    )
    # Corpus size from parquet footers, not a count() job (round 9):
    # ivf_params and the training-sample stride depend only on this
    # number, and footer metadata equals count() exactly for the
    # unfiltered table. n_rows threads the same number into both index
    # builds so their strided samplers skip THEIR stride count jobs too.
    n_corpus = table_row_count(sf_dir, "embeddings")
    n_clusters, n_probe, refine = SIM.ivf_params(n_corpus)
    # ONE strided-sample collect and ONE cell-probe shortlist for both
    # IVF-family searches (round 10): knn_ivf and knn_ivf_pq draw the
    # IDENTICAL deterministic sample of the same corpus
    # and — because their quantizers train from that same sample with
    # the same params — enumerate the IDENTICAL (query, neighbor)
    # candidate set. Collecting the sample twice was a duplicated
    # full-corpus scan per construction; building the shortlist twice
    # was a duplicated corpus cell-assign Arrow pass + candidate
    # distinct exchange at execution. Passing the SAME cand DataFrame
    # object into both searches makes the two subtrees canonically
    # identical, so runtime exchange reuse evaluates them once inside
    # the single tagged-union action. Results are unchanged by
    # construction — both searches re-rank the same pairs they each
    # enumerated independently before.
    sample = SIM.strided_sample_vectors(emb, n_rows=n_corpus)
    cand = SIM.ivf_candidate_pairs(emb, queries, n_corpus, sample=sample)
    anns = {
        "lsh": SIM.knn_ann_hyperplane(emb, queries, k=TOP_K),
        "ivf": SIM.knn_ivf(
            emb, queries, k=TOP_K, n_clusters=n_clusters, n_probe=n_probe,
            n_rows=n_corpus, sample=sample, cand=cand,
        ),
        "ivfpq": SIM.knn_ivf_pq(
            emb,
            queries,
            k=TOP_K,
            n_clusters=n_clusters,
            n_probe=n_probe,
            refine=refine,
            n_rows=n_corpus,
            sample=sample,
            cand=cand,
        ),
    }
    # ONE action for all four recall counts (round 9; formerly
    # n_exact.count() + one count() per index = four sequential jobs
    # with a driver barrier between the three ANN searches). Each
    # branch left_semi-joins the CHECKPOINTED exact set against one
    # index's results and is reduced to a per-tag count inside a single
    # tagged-union aggregate, so the three searches' stages schedule
    # concurrently and backfill each other's tails (guide §2.6); the
    # denominator rides along as a fourth branch over the checkpointed
    # frame. Hit counts — and therefore the gated booleans — are
    # identical to the sequential shape by construction.
    branches = [exact.select(F.lit("exact").alias("_idx"))] + [
        exact.join(ann.select(cols), cols, "left_semi").select(
            F.lit(tag).alias("_idx")
        )
        for tag, ann in anns.items()
    ]
    from functools import reduce

    union = reduce(DataFrame.unionByName, branches)
    hits = {
        r["_idx"]: r["n"]
        for r in union.groupBy("_idx").agg(F.count("*").alias("n")).collect()
    }
    n_exact = hits.get("exact", 0)
    lsh, ivf, ivfpq = (
        hits.get(t, 0) / n_exact for t in ("lsh", "ivf", "ivfpq")
    )
    return spark.createDataFrame(
        [(N_QUERY_VECS, lsh >= 0.85, ivf >= 0.5, ivfpq >= 0.5)],
        "n_queries long, lsh_recall_ok boolean, ivf_recall_ok boolean, "
        "ivfpq_recall_ok boolean",
    )


def _lloyd_round_cte(r: int) -> str:
    """One unrolled Lloyd round: rounded-distance argmin assignment
    (ties → lowest cell id) then per-cell per-dim means rounded to
    LLOYD_CENTER_DIGITS; an emptied cell keeps its previous center —
    mirroring SIM.lloyd_centers_deterministic step for step."""
    cd, dd = SIM.LLOYD_CENTER_DIGITS, SIM.LLOYD_DIST_DIGITS
    return f"""
    asg{r} AS MATERIALIZED (
      SELECT rid, v, cid FROM (
        SELECT s.rid, s.v, c.cid,
          row_number() OVER (PARTITION BY s.rid ORDER BY
            round(list_dot_product(s.v, s.v) + list_dot_product(c.c, c.c)
                  - 2 * list_dot_product(s.v, c.c), {dd}), c.cid) AS rn
        FROM samp s CROSS JOIN c{r - 1} c
      ) WHERE rn = 1
    ),
    mdim{r} AS (
      SELECT cid, pos, round(avg(v[pos]), {cd}) AS cv
      FROM asg{r}, unnest(generate_series(1, len(v))) AS t{r}(pos)
      GROUP BY cid, pos
    ),
    mlist{r} AS (
      SELECT cid, list(cv ORDER BY pos) AS c FROM mdim{r} GROUP BY cid
    ),
    c{r} AS MATERIALIZED (
      SELECT p.cid, coalesce(m.c, p.c) AS c
      FROM c{r - 1} p LEFT JOIN mlist{r} m USING (cid)
    )"""


def _ivf_coarse_prefix() -> str:
    """Shared oracle prefix: index sizing IN SQL (same formulas, floors
    and cap as SIM.ivf_params), strided sample, the unrolled deterministic
    Lloyd quantizer, corpus cell assignment (vb), query multi-probe
    (qp), and the candidate set (cand). Both _ivf_oracle and
    _ivfpq_oracle build on this verbatim."""
    cd, dd = SIM.LLOYD_CENTER_DIGITS, SIM.LLOYD_DIST_DIGITS
    lim = SIM.SAMPLE_LIMIT
    rounds = ",".join(
        _lloyd_round_cte(r) for r in range(1, SIM.LLOYD_ITERS + 1)
    )
    last = f"c{SIM.LLOYD_ITERS}"
    return f"""
    WITH cfg AS (
      SELECT n, k_cells,
        GREATEST(4, CAST(round(0.4 * k_cells) AS INT)) AS n_probe,
        GREATEST(8, k_cells // 4) AS refine,
        CAST(ceil(n / {lim}.0) AS BIGINT) AS stride
      FROM (
        SELECT n, LEAST({lim}, GREATEST(16, CAST(floor(sqrt(n)) AS INT)))
          AS k_cells
        FROM (SELECT count(*)::BIGINT AS n FROM embeddings)
      )
    ),
    e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    samp AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rid, v
      FROM e, cfg WHERE vec_id % cfg.stride = 0
      ORDER BY vec_id LIMIT {lim}
    ),
    c0 AS MATERIALIZED (
      SELECT rid AS cid, list_transform(v, x -> round(x, {cd})) AS c
      FROM samp, cfg WHERE rid < cfg.k_cells
    ),{rounds},
    vb AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            round(list_dot_product(e.v, e.v) + list_dot_product(c.c, c.c)
                  - 2 * list_dot_product(e.v, c.c), {dd}), c.cid) AS rn
        FROM e CROSS JOIN {last} c
      ) WHERE rn = 1
    ),
    qp AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT e.vec_id, c.cid, cfg.n_probe,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            round(list_dot_product(e.v, e.v) + list_dot_product(c.c, c.c)
                  - 2 * list_dot_product(e.v, c.c), {dd}), c.cid) AS rn
        FROM e CROSS JOIN {last} c CROSS JOIN cfg
        WHERE e.vec_id < {N_QUERY_VECS}
      ) WHERE rn <= n_probe
    ),
    cand AS (
      SELECT DISTINCT qp.query_id, vb.vec_id AS neighbor_id
      FROM qp JOIN vb USING (cid)
      WHERE qp.query_id != vb.vec_id
    )"""


_RANKED_TAIL = f"""
    ranked AS (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, rank, round(sim, {ROUND_DIGITS}) AS sim
    FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank"""


def _ivf_oracle() -> str:
    """Full DuckDB oracle for the IVF ANN search: the deterministic
    Lloyd coarse quantizer (RNG-free — strided sample init, fixed
    LLOYD_ITERS rounds, per-round rounded means, rounded-distance
    argmin) unrolls into a fixed CTE chain exactly like the BPE
    trainer, then cell assignment / multi-probe / exact-cosine ranking
    replay the search. Index sizing (√N cells, 40% probe) is computed
    IN SQL from count(*) with the same floors as SIM.ivf_params.
    Distances on both engines use the identical Σx²+Σc²−2x·c
    decomposition rounded at LLOYD_DIST_DIGITS, which makes an
    accumulation-order ulp flip overwhelmingly unlikely but not
    impossible — the pin is probabilistic; see the residual-risk note
    at operators/similarity.py LLOYD_* constants for the quantified
    straddle probability and how to diagnose a flaky failure."""
    return f"""{_ivf_coarse_prefix()},
    sims AS (
      SELECT query_id, neighbor_id,
        list_dot_product(qv.v, cv.v)
          / (sqrt(list_dot_product(qv.v, qv.v))
             * sqrt(list_dot_product(cv.v, cv.v))) AS sim
      FROM cand JOIN e qv ON qv.vec_id = cand.query_id
                JOIN e cv ON cv.vec_id = cand.neighbor_id
    ),{_RANKED_TAIL}"""


def _pq_round_cte(r: int) -> str:
    """One unrolled per-subspace Lloyd round for the PQ codebooks —
    identical recipe to _lloyd_round_cte but keyed by (subspace j,
    code) over the sample's sub-vectors."""
    cd, dd = SIM.LLOYD_CENTER_DIGITS, SIM.LLOYD_DIST_DIGITS
    return f"""
    pasg{r} AS MATERIALIZED (
      SELECT rid, j, x, code FROM (
        SELECT p.rid, p.j, p.x, b.code,
          row_number() OVER (PARTITION BY p.rid, p.j ORDER BY
            round(list_dot_product(p.x, p.x) + list_dot_product(b.c, b.c)
                  - 2 * list_dot_product(p.x, b.c), {dd}), b.code) AS rn
        FROM px p JOIN b{r - 1} b USING (j)
      ) WHERE rn = 1
    ),
    pmd{r} AS (
      SELECT j, code, pos, round(avg(x[pos]), {cd}) AS cv
      FROM pasg{r}, unnest(generate_series(1, len(x))) AS pt{r}(pos)
      GROUP BY j, code, pos
    ),
    pml{r} AS (
      SELECT j, code, list(cv ORDER BY pos) AS c
      FROM pmd{r} GROUP BY j, code
    ),
    b{r} AS MATERIALIZED (
      SELECT p.j, p.code, coalesce(q{r}.c, p.c) AS c
      FROM b{r - 1} p LEFT JOIN pml{r} q{r} USING (j, code)
    )"""


def _ivfpq_oracle(m: int = 8, n_codes: int = 16) -> str:
    """Full DuckDB oracle for the IVF-PQ search — the coarse prefix
    plus: per-subspace deterministic Lloyd codebook training (PQ_ITERS
    unrolled rounds over the SAME strided sample, all m subspaces as
    data in one chain), candidate encoding (rounded-distance argmin per
    subspace), reconstruction (codebook gather + flatten), ADC scoring
    rounded at LLOYD_DIST_DIGITS (mirrored in the engine's Arrow adc —
    so the k·refine shortlist CUT is deterministic cross-engine), and
    the exact-cosine re-rank of the shortlist."""
    cd, dd = SIM.LLOYD_CENTER_DIGITS, SIM.LLOYD_DIST_DIGITS
    rounds = ",".join(_pq_round_cte(r) for r in range(1, SIM.PQ_ITERS + 1))
    bl = f"b{SIM.PQ_ITERS}"
    return f"""{_ivf_coarse_prefix()},
    subs AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
    px AS MATERIALIZED (
      SELECT s.rid, subs.j,
        list_slice(s.v, subs.j * (len(s.v) // {m}) + 1,
                   (subs.j + 1) * (len(s.v) // {m})) AS x
      FROM samp s CROSS JOIN subs
    ),
    b0 AS MATERIALIZED (
      SELECT j, rid AS code, list_transform(x, v -> round(v, {cd})) AS c
      FROM px WHERE rid < {n_codes}
    ),{rounds},
    cx AS MATERIALIZED (
      SELECT n.neighbor_id AS vec_id, subs.j,
        list_slice(e.v, subs.j * (len(e.v) // {m}) + 1,
                   (subs.j + 1) * (len(e.v) // {m})) AS x
      FROM (SELECT DISTINCT neighbor_id FROM cand) n
      JOIN e ON e.vec_id = n.neighbor_id CROSS JOIN subs
    ),
    ecodes AS MATERIALIZED (
      SELECT vec_id, j, code FROM (
        SELECT cx.vec_id, cx.j, b.code,
          row_number() OVER (PARTITION BY cx.vec_id, cx.j ORDER BY
            round(list_dot_product(cx.x, cx.x) + list_dot_product(b.c, b.c)
                  - 2 * list_dot_product(cx.x, b.c), {dd}), b.code) AS rn
        FROM cx JOIN {bl} b ON b.j = cx.j
      ) WHERE rn = 1
    ),
    recon AS MATERIALIZED (
      SELECT ec.vec_id, flatten(list(b.c ORDER BY ec.j)) AS rv
      FROM ecodes ec JOIN {bl} b ON b.j = ec.j AND b.code = ec.code
      GROUP BY ec.vec_id
    ),
    adcs AS (
      SELECT cand.query_id, cand.neighbor_id,
        round(list_dot_product(q.v, r.rv)
              / (sqrt(list_dot_product(q.v, q.v))
                 * GREATEST(sqrt(list_dot_product(r.rv, r.rv)), 1e-12)),
              {dd}) AS adc_sim
      FROM cand JOIN e q ON q.vec_id = cand.query_id
                JOIN recon r ON r.vec_id = cand.neighbor_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.query_id, a.neighbor_id, cfg.refine,
          row_number() OVER (PARTITION BY a.query_id
                             ORDER BY a.adc_sim DESC, a.neighbor_id) AS rn
        FROM adcs a CROSS JOIN cfg
      ) WHERE rn <= {TOP_K} * refine
    ),
    sims AS (
      SELECT query_id, neighbor_id,
        list_dot_product(qv.v, cv.v)
          / (sqrt(list_dot_product(qv.v, qv.v))
             * sqrt(list_dot_product(cv.v, cv.v))) AS sim
      FROM short JOIN e qv ON qv.vec_id = short.query_id
                 JOIN e cv ON cv.vec_id = short.neighbor_id
    ),{_RANKED_TAIL}"""


@query("knn_ann_ivf", oracle=_ivf_oracle())
def knn_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-k (deterministic Lloyd coarse
    quantizer, √N cells, 40% probe fraction — SIM.ivf_params): the
    partition-pruned scale path. Recall@10 vs the exact baseline is
    asserted in tests/test_similarity.py, and since round 5 the FULL
    result set hash-matches a DuckDB replay of the index — the RNG-free
    quantizer training unrolls into a fixed Lloyd CTE chain (see
    _ivf_oracle), the same unrolled-iteration pattern as the BPE
    trainer, so this ANN query is no longer rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    # Index sizing + sample stride from parquet-footer metadata, not a
    # count() job (round 9) — identical number, zero cluster actions at
    # construction.
    n = table_row_count(sf_dir, "embeddings")
    n_clusters, n_probe, _ = SIM.ivf_params(n)
    out = SIM.knn_ivf(
        emb, queries, k=TOP_K, n_clusters=n_clusters, n_probe=n_probe,
        n_rows=n,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("sim", ROUND_DIGITS).alias("sim"),
    ).orderBy("query_id", "rank")


@query("knn_ann_ivf_pq", oracle=_ivfpq_oracle())
def knn_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate cosine top-k: IVF cells bound the candidate
    set, 8×16 product-quantized codes (32× compression at dim=64) bound
    the per-candidate cost, exact cosine re-ranks a k·refine shortlist —
    the memory-scale ANN path where full float vectors can't be re-read
    per search. Recall@10 vs the exact baseline asserted in
    tests/test_similarity.py and in the oracle-pinned recall gate.
    Index sized by SIM.ivf_params (√N cells, 40% probe, √N-scaled
    re-rank budget). Since round 5 the FULL result set hash-matches a
    DuckDB replay (see _ivfpq_oracle: unrolled Lloyd for both the
    coarse quantizer AND the per-subspace codebooks, rounded ADC) —
    the registry has ZERO rows-only queries left."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    # Footer metadata instead of a count() job — see knn_ann_ivf.
    n = table_row_count(sf_dir, "embeddings")
    n_clusters, n_probe, refine = SIM.ivf_params(n)
    out = SIM.knn_ivf_pq(
        emb,
        queries,
        k=TOP_K,
        n_clusters=n_clusters,
        n_probe=n_probe,
        refine=refine,
        n_rows=n,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("sim", ROUND_DIGITS).alias("sim"),
    ).orderBy("query_id", "rank")


_SEMDEDUP_SOFT = 2  # top-2 soft cell assignment (boundary mitigation)


def _semdedup_oracle() -> str:
    """Full DuckDB oracle for the cluster-local semantic dedup: the
    shared Lloyd prefix (index sizing in SQL, unrolled deterministic
    training, same rounded distances), then top-``_SEMDEDUP_SOFT`` soft
    cell assignment of EVERY vector, same-cell pair candidates, and
    exact-cosine verification at the dedup threshold."""
    dd = SIM.LLOYD_DIST_DIGITS
    last = f"c{SIM.LLOYD_ITERS}"
    return f"""{_ivf_coarse_prefix()},
    va2 AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            round(list_dot_product(e.v, e.v) + list_dot_product(c.c, c.c)
                  - 2 * list_dot_product(e.v, c.c), {dd}), c.cid) AS rn
        FROM e CROSS JOIN {last} c
      ) WHERE rn <= {_SEMDEDUP_SOFT}
    ),
    pc AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM va2 a JOIN va2 b USING (cid) WHERE a.vec_id < b.vec_id
    ),
    p AS (
      SELECT vec_a, vec_b,
        list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v))
             * sqrt(list_dot_product(eb.v, eb.v))) AS sim
      FROM pc JOIN e ea ON ea.vec_id = pc.vec_a
              JOIN e eb ON eb.vec_id = pc.vec_b
    )
    SELECT vec_a, vec_b, round(sim, {ROUND_DIGITS}) AS sim
    FROM p WHERE sim >= {_COS_DUP_THRESHOLD} ORDER BY vec_a, vec_b"""


@query("dedup_embedding_semdedup", oracle=_semdedup_oracle())
def dedup_embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-local semantic near-duplicate pairs
    (Abbas et al. 2023, arXiv:2303.09540) — the SCALE ROUTE next to the
    exact all-pairs baseline (dedup_embedding_cosine): the
    deterministic Lloyd quantizer (√N cells, trained on the bounded
    strided sample) partitions the corpus, every vector soft-assigns to
    its top-2 cells, and exact cosine ≥ threshold runs ONLY on
    same-cell pairs. Candidate volume is ~soft²/cells of all pairs (9%
    at sf0.1, shrinking as √N grows) — O(N^1.5), sub-quadratic at
    every scale, and the production trade: cross-cluster duplicate
    pairs are dropped by design (measured coverage vs the exact
    baseline: 0.93 at sf0.01, 0.58 at sf0.1 for this wide 0.45-cosine
    threshold; the floor is pinned in tests/test_similarity.py —
    tighter thresholds cluster better). Training included, the whole
    pipeline replays in SQL and hash-matches its oracle (same Lloyd
    prefix as the IVF searches)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Footer metadata instead of a count() job — see knn_ann_ivf.
    n = table_row_count(sf_dir, "embeddings")
    k_cells, _, _ = SIM.ivf_params(n)
    pairs = SIM.semantic_dedup_cell_pairs(
        emb,
        threshold=_COS_DUP_THRESHOLD,
        n_clusters=k_cells,
        n_soft=_SEMDEDUP_SOFT,
        n_rows=n,
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("sim", ROUND_DIGITS).alias("sim")
    ).orderBy("vec_a", "vec_b")


_Q_MID_R = 8  # pin per-vector FP accumulation before the label-level avg


@query(
    "mapinarrow_embedding_quantize",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
        list_max(list_transform(embedding, x -> abs(x))) AS m,
        embedding AS e
      FROM embeddings
    ),
    err AS (
      SELECT vec_id, label,
        CASE WHEN m = 0 THEN 0.0 ELSE round(
          list_aggregate(
            list_transform(e, x ->
              abs(x - floor((127 * x::DOUBLE) / m + 0.5) * m / 127)),
            'sum') / len(e), {_Q_MID_R})
        END AS mae
      FROM q
    )
    SELECT label, count(*)::BIGINT AS n_vecs,
           round(avg(mae), {ROUND_DIGITS}) AS mean_abs_err
    FROM err GROUP BY label ORDER BY label
    """,
)
def mapinarrow_embedding_quantize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    compression step an embedding store applies before ANN serving — and
    the per-label reconstruction-error audit that validates it. Scale =
    per-vector max-abs; codes = floor(127·x/scale + 0.5) (explicit
    half-up so the engine and the oracle round identically; NumPy's
    native rint rounds half-to-even).

    This is the ``mapInArrow`` extension point (completing the Python
    boundary surface: scalar pandas_udf, grouped-agg, applyInPandas,
    UDTF, and now raw Arrow): batches cross as Arrow RecordBatches with NO pandas
    materialization — the FixedSizeList column flattens to one
    contiguous float32 buffer, reshaped zero-copy into an (n, dim)
    NumPy matrix, so the whole batch quantizes as two vectorized ops.
    Per-vector MAE is rounded to 1e-8 inside the batch (cross-engine FP
    pinning, same trick as graph PageRank's per-iteration rounding);
    the label rollup stays JVM-side."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings")

    def quantize(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            ids = tbl.column("vec_id").to_numpy()
            if len(ids) == 0:  # empty input split: reshape(0, -1) raises
                continue
            labels = tbl.column("label").to_numpy()
            col = tbl.column("embedding").combine_chunks()
            flat = np.asarray(col.flatten(), dtype=np.float32)
            x = flat.reshape(len(ids), -1).astype(np.float64)
            m = np.abs(x.astype(np.float32)).max(axis=1).astype(np.float64)
            safe = np.where(m == 0, 1.0, m)
            q = np.floor((127.0 * x) / safe[:, None] + 0.5)
            recon = q * safe[:, None] / 127.0
            mae = np.abs(x - recon).sum(axis=1) / x.shape[1]
            mae = np.where(m == 0, 0.0, np.round(mae, _Q_MID_R))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(labels, type=pa.int32()),
                    pa.array(mae, type=pa.float64()),
                ],
                names=["vec_id", "label", "mae"],
            )

    per_vec = emb.select("vec_id", "label", "embedding").mapInArrow(
        quantize, "vec_id long, label int, mae double"
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("mae"), ROUND_DIGITS).alias("mean_abs_err"),
        )
        .orderBy("label")
    )


_MS_SUB = 4          # sub-vectors per embedding (64 dims -> 4 x 16)
_MS_DIM = 16
_MS_TOPK = 10


@query(
    "sim_maxsim_multivector",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce
      FROM embeddings
    ),
    sub AS (SELECT unnest(generate_series(0, {_MS_SUB - 1})) AS i),
    qs AS (
      SELECT query_id, i AS qi,
             qe[1 + {_MS_DIM} * i : {_MS_DIM} * (i + 1)] AS qv
      FROM q, sub
    ),
    cs AS (
      SELECT neighbor_id, i AS di,
             ce[1 + {_MS_DIM} * i : {_MS_DIM} * (i + 1)] AS dv
      FROM c, sub
    ),
    best AS (
      SELECT query_id, neighbor_id, qi,
        max(list_dot_product(qv, dv)
            / (sqrt(list_dot_product(qv, qv))
               * sqrt(list_dot_product(dv, dv)))) AS m
      FROM qs, cs
      WHERE query_id <> neighbor_id
      GROUP BY 1, 2, 3
    ),
    scores AS (
      SELECT query_id, neighbor_id, sum(m) AS s FROM best GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, s,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY s DESC, neighbor_id) AS rank
      FROM scores
    )
    SELECT query_id, neighbor_id, rank, round(s, {ROUND_DIGITS}) AS maxsim
    FROM ranked WHERE rank <= {_MS_TOPK} ORDER BY query_id, rank
    """,
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION (ColBERT-style MaxSim) retrieval: each embedding
    is treated as a MULTI-VECTOR document — 4 sub-vectors of 16 dims —
    and score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ): every query sub-vector finds
    its best-matching document sub-vector, and the per-token maxima sum.
    The retrieval scorer of multi-vector rerankers, where a single
    pooled cosine (knn_exact_cosine) washes out token-level matches.

    Shape: the 5-query side broadcasts (same as knn_exact_cosine); the
    4×4 sub-vector grid evaluates INSIDE the JVM row — nested
    higher-order functions (transform over document sub-slices, max,
    fold over query sub-slices), no explode, so the corpus scan stays
    one row per document and the only shuffle is the per-query top-k
    ranking. The scan is linear in the corpus at every size; a
    shortlist-then-rerank variant would be a separate query with its
    own oracle."""
    emb = load_table(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def subvecs(col):
        return F.array(
            *[
                F.slice(col, 1 + _MS_DIM * i, _MS_DIM)
                for i in range(_MS_SUB)
            ]
        )

    q = emb.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        subvecs(SIM.as_double("embedding")).alias("qsub"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        subvecs(SIM.as_double("embedding")).alias("dsub"),
    )
    pair = c.crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    score = F.aggregate(
        F.col("qsub"),
        F.lit(0.0),
        lambda acc, qv: acc
        + F.array_max(
            F.transform(
                F.col("dsub"),
                lambda dv: dot(qv, dv)
                / (F.sqrt(dot(qv, qv)) * F.sqrt(dot(dv, dv))),
            )
        ),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("s"), F.asc("neighbor_id")
    )
    return (
        pair.select("query_id", "neighbor_id", score.alias("s"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _MS_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("s", ROUND_DIGITS).alias("maxsim"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Matryoshka-style dimension-truncation quality (Kusupati et al. 2022,
# arXiv:2205.13147): how much top-k fidelity survives when the 64-d
# embeddings are truncated to their leading 8/16/32 dims — the analysis
# that decides whether a pipeline can serve ANN shortlists from a
# cheaper prefix index and re-rank at full width.
# ---------------------------------------------------------------------------

_MRL_DIMS = [8, 16, 32]


def _mrl_rank_sql(qe: str, ce: str) -> str:
    sim = (
        f"list_dot_product({qe}, {ce}) / (sqrt(list_dot_product({qe}, {qe}))"
        f" * sqrt(list_dot_product({ce}, {ce})))"
    )
    return (
        "SELECT query_id, neighbor_id FROM ("
        " SELECT query_id, neighbor_id,"
        f" row_number() OVER (PARTITION BY query_id ORDER BY {sim} DESC,"
        " neighbor_id) AS rank"
        " FROM q CROSS JOIN c WHERE query_id != neighbor_id)"
        f" WHERE rank <= {TOP_K}"
    )


_MRL_TRUNC_SQL = "\n      UNION ALL\n".join(
    f"SELECT {d} AS dim, * FROM ({_mrl_rank_sql(f'qe[1:{d}]', f'ce[1:{d}]')})"
    for d in _MRL_DIMS
)


@query(
    "knn_matryoshka_dim_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
    ),
    full_rank AS ({_mrl_rank_sql("qe", "ce")}),
    trunc_all AS (
      {_MRL_TRUNC_SQL}
    ),
    rec AS (
      SELECT t.dim, t.query_id,
             count(f.query_id)::DOUBLE / {TOP_K} AS recall
      FROM trunc_all t
      LEFT JOIN full_rank f
        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
      GROUP BY t.dim, t.query_id
    )
    SELECT dim,
           round(avg(recall), {ROUND_DIGITS}) AS mean_recall,
           round(min(recall), {ROUND_DIGITS}) AS min_recall
    FROM rec GROUP BY dim ORDER BY dim
    """,
)
def knn_matryoshka_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of prefix-truncated exact search vs full-width
    exact search, per truncation width {_MRL_DIMS}.

    Scale shape: one broadcast-query corpus pass PER width (the widths
    are constants, so the loop statically unrolls into one DAG — same
    discipline as the bootstrap lanes), each pass shuffling only its
    per-query top-{TOP_K}; the recall join compares {TOP_K}-row sets per
    (width, query). Truncation is F.slice — no recompute of the stored
    vectors, which is the Matryoshka deployment property being measured.
    Both engines accumulate dot products left-to-right, so ranks (and
    the hash) are exact matches, not approximate ones."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _topk(vectors):
        queries = vectors.where(F.col("vec_id") < N_QUERY_VECS)
        return SIM.knn_exact_cosine(vectors, queries, k=TOP_K)

    full = (
        _topk(emb)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    frames = []
    for d in _MRL_DIMS:
        t = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tk = _topk(t)
        frames.append(
            tk.select(F.lit(d).alias("dim"), "query_id", "neighbor_id")
        )
    trunc = frames[0]
    for f_ in frames[1:]:
        trunc = trunc.unionByName(f_)
    rec = (
        trunc.join(full, ["query_id", "neighbor_id"], "left")
        .groupBy("dim", "query_id")
        .agg((F.count("_hit") / float(TOP_K)).alias("recall"))
    )
    return (
        rec.groupBy("dim")
        .agg(
            F.round(F.avg("recall"), ROUND_DIGITS).alias("mean_recall"),
            F.round(F.min("recall"), ROUND_DIGITS).alias("min_recall"),
        )
        .orderBy("dim")
    )



# Render the constants into the docstring (help()/docs otherwise show
# literal braces that silently drift from the values — ADVICE r6).
format_doc(knn_matryoshka_dim_recall, TOP_K=TOP_K, _MRL_DIMS=_MRL_DIMS)

# ---------------------------------------------------------------------------
# Contrastive hard-negative mining: for each query vector, the nearest
# neighbors of a DIFFERENT label — the training-pair construction step
# for contrastive/triplet embedding fine-tuning (the highest-similarity
# wrong-label candidates are exactly the informative negatives).
# ---------------------------------------------------------------------------

_HN_K = 5


@query(
    "knn_hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe, label AS ql
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce, label AS cl
      FROM embeddings
    ),
    sims AS (
      SELECT query_id, neighbor_id, cl AS neg_label,
        list_dot_product(qe, ce)
          / (sqrt(list_dot_product(qe, qe))
             * sqrt(list_dot_product(ce, ce))) AS sim
      FROM q CROSS JOIN c
      WHERE query_id != neighbor_id AND ql != cl
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neg_label, sim,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, neg_label,
           round(sim, {ROUND_DIGITS}) AS sim
    FROM ranked WHERE rank <= {_HN_K}
    ORDER BY query_id, rank
    """,
)
def knn_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HN_K} hardest negatives per query vector: highest-cosine
    candidates whose label DIFFERS from the query's — the pair-mining
    pass that feeds contrastive/triplet fine-tuning.

    Scale shape: identical to knn_exact_cosine (broadcast query side,
    one corpus pass, one ranking shuffle) with the label-mismatch
    predicate evaluated as a join residual BEFORE any similarity math,
    so same-label candidates never reach the dot product. The pass is
    linear in the corpus at every size, and the oracle pins it."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        SIM.as_double("embedding").alias("_qe"),
        F.col("label").alias("_ql"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        SIM.as_double("embedding").alias("_ce"),
        F.col("label").alias("neg_label"),
    )
    from pyspark.sql.window import Window

    sims = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("_ql") != F.col("neg_label")),
    ).select(
        "query_id",
        "neighbor_id",
        "neg_label",
        SIM.cosine_col(F.col("_qe"), F.col("_ce")).alias("_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _HN_K)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "neg_label",
            F.round("_sim", ROUND_DIGITS).alias("sim"),
        )
        .orderBy("query_id", "rank")
    )
