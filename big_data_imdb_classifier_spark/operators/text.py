"""Text-analysis operators over the ``documents`` table.

Everything here is built from JVM-side ``pyspark.sql.functions`` (split /
higher-order array functions / md5) so the hot path stays inside
whole-stage codegen — no Python UDFs. The one genuinely non-native text op
(NFKD unicode fold, reference data_utils.py:159-184) lives in
``functions/nfkd.py`` as an Arrow pandas_udf.

Determinism contract: every hash used for fingerprints / MinHash is
``md5`` (identical hex output in Spark and DuckDB), which is what makes
the dedup operators oracle-checkable end-to-end.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Token pattern shared by token ops: runs of word chars OR single
# non-word-non-space chars (a BPE-ish "word or punctuation" split).
BPE_ISH_PATTERN = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"

# Small deterministic marker vocabularies for the language-ID heuristic.
# Real language ID would use char n-gram profiles; the *operator shape*
# (token-overlap scoring, argmax with deterministic tiebreak) is what the
# engine provides, and it is exactly reproducible in SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "data", "query", "row"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"],
    "es": ["el", "la", "los", "de", "y", "es", "no", "con", "una", "por"],
}


def repartition_for_cpu(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition with an EXPLICIT partition count (the cluster's default
    parallelism). A count-less ``repartition(col)`` is advisory to AQE,
    whose partition coalescing folds a tiny-bytes shuffle down to ONE
    partition — correct for IO-bound plans, but it serializes the
    CPU-heavy per-row stages that follow (shingling, per-shingle md5,
    token hashing), where cost scales with compute per row, not bytes.
    Pinning the count keeps one task per core; ``defaultParallelism`` is
    total executor cores, so the choice scales with the cluster."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(F.col(text) if isinstance(text, str) else text), r"\s+")


def let_col(value: Column, body) -> Column:
    """Bind ``value`` once and use it many times inside ``body`` — a
    `let` expression for Spark columns.

    Higher-order-function lambdas are evaluated per array element, and
    interpreted projection (which HOFs force — lambdas are outside
    whole-stage codegen) has no common-subexpression elimination. So a
    column like ``transform(seq, i -> slice(split(text), i, k))``
    re-runs the ``split`` for EVERY element — measured 7× slower on the
    shingling hot path. Wrapping the shared value as the element of a
    one-element array and transforming over it turns it into a lambda
    variable, which the engine evaluates exactly once per row; the body
    then refers to the bound variable, never the original expression.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def explode_no_refilter(df: DataFrame, arr: str, out: str) -> DataFrame:
    """``explode`` an array column without Catalyst's inferred-filter
    double evaluation.

    ``InferFiltersFromGenerate`` adds ``size(arr) > 0`` under a Generate
    and pushes it to the scan — but when ``arr`` is a computed column the
    filter re-inlines the ENTIRE expression below the projection, so an
    expensive array (shingling: split + transform + array_distinct, all
    interpreted) is computed twice per row. ``explode_outer`` gets no
    inferred filter; the trailing ``isNotNull`` drops the null rows that
    empty/null arrays produce, giving row-for-row ``explode`` semantics
    at half the expression cost (measured 6.4 s → 0.9 s on the sf0.1
    shingle explode).
    """
    return df.select("*", F.explode_outer(arr).alias(out)).where(
        F.col(out).isNotNull()
    ).drop(arr)


def token_count_col(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column | str) -> Column:
    """Sub-word-ish token count: words + individual punctuation marks."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_ratio_col(text: Column | str) -> Column:
    """Fraction of characters that are neither word chars nor whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def stopword_ratio_col(text: Column | str, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords (bag semantics)."""
    toks = tokens_col(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def mean_token_len_col(text: Column | str) -> Column:
    toks = tokens_col(text)
    total = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score_col(text: Column | str, stopwords: list[str]) -> Column:
    """Composite heuristic quality score in [0, 1]:
    rewards mid-length docs, some stopword mass, low punctuation density.
    (Deliberately simple/linear so the SQL oracle can restate it exactly.)
    """
    n_tok = token_count_col(text)
    length_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio_col(text, stopwords) * 5, F.lit(1.0))
    punct_penalty = F.least(punct_ratio_col(text) * 5, F.lit(1.0))
    return (0.4 * length_score + 0.4 * stop_score + 0.2 * (1 - punct_penalty))


def lang_id_col(text: Column | str) -> Column:
    """Argmax language with deterministic alphabetical tiebreak: the
    candidate whose (score, reversed-alpha) pair is greatest wins, i.e.
    ties go to the alphabetically-first language code.

    The scores are BOUND once through a ``transform`` lambda (round 9):
    the plain when-chain fold references each score expression through
    every nested branch, and interpreted HOF projection has no
    common-subexpression elimination, so the un-bound form re-ran the
    tokenize + array_distinct + array_intersect chain up to ~9× per
    row. Bound, each score computes exactly once; the argmax fold runs
    over struct-field reads. Identical values (same score expressions,
    same fold)."""
    langs = sorted(LANG_MARKERS)
    distinct_toks = F.array_distinct(tokens_col(text))
    scored = F.transform(
        F.array(distinct_toks),
        lambda t: F.struct(
            *[
                F.size(
                    F.array_intersect(
                        t, F.array(*[F.lit(x) for x in LANG_MARKERS[lang]])
                    )
                ).alias(f"s_{lang}")
                for lang in langs
            ]
        ),
    )

    def pick(m: Column) -> Column:
        best = None
        for lang in sorted(langs, reverse=True):  # alpha-earlier wins ties
            s = m[f"s_{lang}"]
            if best is None:
                best = (s, F.lit(lang))
            else:
                best_s, best_l = best
                take = s >= best_s
                best = (
                    F.when(take, s).otherwise(best_s),
                    F.when(take, F.lit(lang)).otherwise(best_l),
                )
        assert best is not None
        return best[1]

    return F.transform(scored, pick)[0]


def word_shingles_col(text: Column | str, k: int) -> Column:
    """Distinct word k-gram shingles; empty array when the doc is shorter
    than k tokens. Built entirely from higher-order array functions.

    The tokens array is let-bound (see ``let_col``) so the ``split`` runs
    once per row, not once per shingle — without the binding the
    interpreted lambda re-tokenizes the document for every element.
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)
        # Clamp the sequence end to 1: sequence(1, 0) would produce a
        # DESCENDING [1, 0] (step defaults to -1 when start > stop) and a
        # 0-index slice, even though the outer when() discards the branch.
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
        return F.array_distinct(
            F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))
        )

    return let_col(tokens_col(text), build)


def fingerprint_col(text: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the trimmed text (matches DuckDB
    md5 byte-for-byte)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(c))


def minhash_col(shingles: Column, seed: int) -> Column:
    """One MinHash value: min over md5(seed || ':' || shingle).

    Using md5-as-permutation keeps the signature deterministic AND
    reproducible in the DuckDB oracle — a string min over identical hex
    digests. NULL (empty shingle set) handled by callers.
    """
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
    )


def minhash_lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH near-duplicate pipeline: shingle → signature → band →
    bucket self-join → exact-Jaccard verify. Never all-pairs.

    Banding: ``num_hashes`` minhashes split into ``bands`` bands of
    ``num_hashes // bands`` rows; docs sharing any band hash become
    candidates. The band explode is a single projection (posexplode of a
    literal array — one scan, no union-of-B-copies), the bucket join is an
    equi-join on (band, band_hash) whose buckets are small by
    construction, and only candidates pay the exact-Jaccard verify. This
    is the shape that survives 100 TB; the only skew risk is a degenerate
    band hash shared by a huge doc cluster, which AQE skew-join splits.

    md5-as-permutation keeps every step reproducible in the DuckDB oracle
    (same hex digests, same min, same band key).
    """
    rows = num_hashes // bands
    assert rows * bands == num_hashes, "num_hashes must divide into bands"

    # A small parquet corpus scans as ONE partition; repartition (with an
    # explicit count — see repartition_for_cpu) so the CPU-heavy
    # shingle+md5 pipeline uses every core, not one AQE-coalesced task.
    df = repartition_for_cpu(df, id_col)
    sh = df.select(id_col, word_shingles_col(text_col, k).alias("shingles"))
    sig = sh.select(
        id_col,
        "shingles",
        *[minhash_col(F.col("shingles"), i).alias(f"mh_{i}") for i in range(num_hashes)],
    )

    def band_hash(b: int) -> Column:
        # null-propagating concat (matches SQL ||): a doc with no
        # shingles gets NULL band hashes and never joins.
        parts: list[Column] = []
        for r in range(rows):
            if parts:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh_{b * rows + r}"))
        return F.md5(F.concat(*parts))

    # Repartition on the bucket key: both self-join branches then hang off
    # ONE Exchange (ReusedExchange), so the signature pipeline (8 md5s per
    # shingle) is computed once instead of once per branch — and the join
    # needs this partitioning anyway.
    banded = (
        sig.select(
            F.col(id_col),
            F.posexplode(F.array(*[band_hash(b) for b in range(bands)])).alias(
                "band", "bh"
            ),
        )
        .where(F.col("bh").isNotNull())
        .repartition("band", "bh")
    )

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )

    # Same trick for the verify joins: one doc_id-partitioned shingle
    # frame feeds both sides through a shared Exchange.
    shr = repartition_for_cpu(sh, id_col)
    sa = shr.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("_sa"))
    sb = shr.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("_sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("_sa", "_sb"))
                / F.greatest(F.size(F.array_union("_sa", "_sb")), F.lit(1))
            ).alias("jaccard"),
        )
    )


def md5_hash60_col(c: Column) -> Column:
    """60-bit token hash from the top 15 hex digits of md5 — an
    engine-portable alternative to xxhash64: DuckDB computes the
    identical value as ``CAST(('0x' || substr(md5(t), 1, 15)) AS
    BIGINT)``, which is what lets a simhash built on it be
    oracle-checked. 15 hex digits keep the value under 2^60, inside
    signed-long range on both engines. Still pure JVM (md5 + conv), just
    slower than xxhash64 — use for gate-checked paths, keep xxhash64 for
    the throughput path."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    out_col: str = "simhash",
    hash_col=None,
) -> DataFrame:
    """SimHash over whitespace tokens using xxhash64 (JVM fast path).

    Each distinct token is hashed ONCE (explode → hash), then each of
    the ``bits`` bit positions contributes ±1 to a per-document counter;
    the sign of each counter becomes one signature bit. One shuffle
    (groupBy id), ``bits`` map-side-combined sums, zero Python UDFs.

    ``hash_col`` (Column → Column) defaults to ``F.xxhash64``; pass
    :func:`md5_hash60_col` with ``bits=60`` for the DuckDB-replicable
    variant the driver gate hash-checks.
    """
    hasher = hash_col if hash_col is not None else F.xxhash64
    # explode_outer + isNotNull: a plain explode gets an inferred
    # size(..)>0 filter that re-tokenizes every row a second time at the
    # scan (see explode_no_refilter).
    toks = (
        repartition_for_cpu(df, id_col)
        .select(
            id_col,
            F.explode_outer(F.array_distinct(tokens_col(text_col))).alias("_tok"),
        )
        .where(F.col("_tok").isNotNull())
        .withColumn("_h", hasher(F.col("_tok")))
    )
    # The per-bit aggregates and the signature fold are built as SQL
    # strings parsed by ONE F.expr call each (round 9): the Column-API
    # form issued ~8.6k py4j round-trips (~2 s of driver socket I/O per
    # CONSTRUCTION — the dominant cost of both simhash queries' build
    # phase, measured by cProfile). The parsed trees are the same
    # operators (CASE/shiftright/& and a left-associated sum), so the
    # analyzed plan and every signature bit are unchanged.
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(_h, {b}) & 1) != 0 "
            f"THEN 1 ELSE -1 END) AS _b{b}"
        )
        for b in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    sig = " + ".join(
        f"(CASE WHEN _b{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return sums.select(
        id_col, F.expr(f"CAST(0 AS BIGINT) + {sig}").alias(out_col)
    )


def hamming64_col(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def text_features_inline(text_col: str, stopwords: list[str]):
    """All six per-document text features as ONE generator expression —
    pass to ``df.select(id, F.inline(text_features_inline(...)))``.

    The per-column formulation (token_count_col + stopword_ratio_col +
    mean_token_len_col + quality_score_col side by side) re-tokenizes
    the document FIVE times per row: higher-order-function lambdas run
    in interpreted projection, which has no common-subexpression
    elimination (the ``let_col`` rationale), and ``CollapseProject``
    re-inlines any intermediate alias back into every consumer. Routing
    the shared subexpressions through nested ``transform`` bindings and
    emitting the result via ``inline`` (a GENERATOR — generators are
    not collapsed into the projection, so the expression tree evaluates
    exactly once per row) computes: one tokenize, one stopword filter,
    one length fold, one punct regexp, one BPE regexp — per row, total.

    Field arithmetic is the identical expression tree the individual
    helpers build (same division/least/greatest order), so values are
    bit-equal; callers apply their own rounding."""
    toks = tokens_col(text_col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    stage1 = F.transform(
        F.array(toks),
        lambda t: F.struct(
            F.size(t).alias("n"),
            F.size(F.filter(t, lambda x: F.array_contains(sw, x))).alias(
                "nstop"
            ),
            F.aggregate(
                t, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
            ).alias("lensum"),
            punct_ratio_col(text_col).alias("p"),
            bpe_ish_token_count_col(text_col).alias("b"),
        ),
    )

    def final(m: Column) -> Column:
        n, nstop = m["n"], m["nstop"]
        denom = F.greatest(n, F.lit(1))
        stop_ratio = nstop / denom
        length_score = F.least(n / F.lit(50.0), F.lit(1.0))
        stop_score = F.least(stop_ratio * 5, F.lit(1.0))
        punct_penalty = F.least(m["p"] * 5, F.lit(1.0))
        return F.struct(
            n.cast("long").alias("n_tokens"),
            m["b"].cast("long").alias("n_bpe_tokens"),
            m["p"].alias("punct_ratio"),
            stop_ratio.alias("stopword_ratio"),
            (m["lensum"] / denom).alias("mean_token_len"),
            (
                0.4 * length_score
                + 0.4 * stop_score
                + 0.2 * (1 - punct_penalty)
            ).alias("quality"),
        )

    return F.transform(stage1, final)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
    hash_col=None,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the 64-bit signature into
    ``bands`` equal bit-slices, bucket-join on any equal slice, verify
    hamming distance on candidates.

    EXACT for ``max_hamming < bands`` by pigeonhole: a pair with ≤3
    differing bits cannot differ in all 4 of its 16-bit slices, so it
    must collide in at least one bucket — banding loses nothing while
    keeping the join strictly sub-quadratic (same scale shape as
    MinHash-LSH banding).
    """
    assert max_hamming < bands, "pigeonhole exactness needs max_hamming < bands"
    assert bits % bands == 0, "bands must evenly slice the signature"
    width = bits // bands
    mask = (1 << width) - 1

    sig = simhash(df, id_col=id_col, text_col=text_col, bits=bits, hash_col=hash_col)
    banded = sig.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "slice"),
    ).repartition("band", "slice")

    a, b = banded.alias("a"), banded.alias("b")
    # Hamming filter BEFORE the pair dedup (round 9): the distance is a
    # per-pair function (bit_count of xor, map-side, no shuffle), so
    # cutting at ≤ max_hamming first is result-identical while the
    # distinct now shuffles only TRUE near-dups as narrow
    # (doc_a, doc_b, hamming) rows instead of every band collision
    # dragging both 64-bit signatures (guide §2.2: filter early,
    # shuffle fewer bytes — band collisions are the volume knob here,
    # near-dups the rare survivors).
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming64_col(F.col("a.simhash"), F.col("b.simhash")).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components_min_label(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 10,
) -> DataFrame:
    """Connected components over a near-dup pair graph by iterative
    min-label propagation: every node adopts the smallest id reachable in
    ≤ max_iter hops. Converges in O(graph diameter) rounds — near-dup
    clusters are small and dense (diameter 2-3 in practice), so a bounded
    iteration count is the pragmatic distributed choice (same loop shape
    as GraphFrames' CC without the dependency). A graph that is still
    changing labels after ``max_iter`` rounds raises ``ValueError``
    rather than returning a partial labelling.

    Returns (node, component) where component = min doc id of the
    cluster. Each round is two shuffles (join + min-agg) over the EDGE
    list only; localCheckpoint truncates the growing lineage so round N
    doesn't replay rounds 1..N-1.
    """
    # Eagerly materialize the edge list ONCE: every round joins `edges`
    # twice, and without this the whole upstream pair pipeline (at the
    # curation call site: MinHash signatures → banding → bucket join →
    # Jaccard verify) re-executes per iteration — measured 5.9 s → 3.2 s
    # on corpus_curation_e2e's construction (4.7 s → 1.9 s on
    # near_dup_clusters), and at 100 TB the re-derive
    # would dominate the loop outright. The edge list is pair-sized
    # (near-dup pairs, not corpus-sized), so checkpointing it is cheap.
    #
    # No distinct() on the union (round 9): every producer emits distinct
    # pairs with a_col < b_col (the LSH/simhash candidate joins end in
    # distinct() with an id< predicate), so the two directed orientations
    # cannot collide and the dedup was a pure extra shuffle over the edge
    # list. Even for a hypothetical duplicate-emitting caller, min-label
    # propagation is multiset-insensitive — duplicate edges change no
    # label, only edge-list bytes.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("component")
    )
    for rounds in range(1, max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # Carry the previous label through the checkpoint so convergence
        # is a filter over the frame we just materialized — the former
        # new-vs-old join re-shuffled both label frames once per round
        # for a boolean (round 9: one join job per iteration removed;
        # the changed flag compares the same per-node values either way).
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                F.col("component").alias("_prev"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.where(F.col("component") != F.col("_prev"))
            .limit(1)
            .count()
        )
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    else:
        raise ValueError(
            "connected_components_min_label: labels still changing after "
            f"max_iter={max_iter} rounds; the graph's diameter exceeds the "
            "round limit, pass a larger max_iter"
        )
    logging.getLogger(__name__).info(
        "connected_components_min_label: converged in %d rounds", rounds
    )
    return labels


def sample_by_hash(
    df: DataFrame, key_col: str, rate_num: int, rate_den: int
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose md5(key) bucket (mod
    rate_den) falls below rate_num — the reproducible downsampling a
    training-data pipeline needs (same subset on every run/cluster, no
    RNG state, joins cleanly against itself across tables sharing the
    key). Pure projection+filter, no shuffle."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(rate_den),
    )
    return df.where(bucket < rate_num)


def incremental_dedup(
    spark,
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-batch incremental dedup: drop docs whose content fingerprint
    was seen in ANY previous batch, then register the survivors'
    fingerprints. The training-pipeline shape for rolling crawls — a new
    batch never rescans history, it anti-joins the fingerprint store
    (droplet vs ocean: the store holds one md5 per distinct content ever
    seen, not the corpus).

    Within-batch duplicates also collapse (min id survives). Returns the
    surviving rows of ``new_docs``; the store at ``store_path`` is
    updated atomically (same tmp-swap pattern as the enrichment cache).
    """
    import os
    import shutil

    fp = new_docs.withColumn("_fp", fingerprint_col(text_col))

    seen = None
    if store_path and os.path.exists(store_path):
        seen = spark.read.parquet(store_path)

    fresh = fp
    if seen is not None:
        fresh = fp.join(seen, fp["_fp"] == seen["fingerprint"], "left_anti")

    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy(F.asc(id_col))
    survivors = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    if store_path:
        # Materialize survivors BEFORE the store swap: the anti-join's
        # lineage reads the store files the swap is about to replace.
        survivors = survivors.localCheckpoint(eager=True)
        new_fps = survivors.select(F.col("_fp").alias("fingerprint"))
        merged = new_fps if seen is None else seen.unionByName(new_fps).distinct()
        tmp = store_path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(store_path):
            shutil.rmtree(store_path)
        os.rename(tmp, store_path)

    return survivors.drop("_fp")


def sample_by_hash_stratified(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, tuple[int, int]],
    default_rate: tuple[int, int] = (1, 1),
) -> DataFrame:
    """Per-stratum deterministic hash sampling: each stratum keeps its own
    num/den fraction of rows (by key hash), unknown strata keep
    ``default_rate``. The reproducible analogue of ``sampleBy`` — corpus
    rebalancing (downsample the dominant source, keep the rare one) with
    run-to-run stable membership and no RNG state. Pure projection+filter."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(1_000_000),
    )
    default_keep = bucket < F.lit(default_rate[0] * 1_000_000 // default_rate[1])
    keep = default_keep
    for stratum, (num, den) in sorted(rates.items()):
        keep = F.when(
            F.col(strata_col) == stratum, bucket < F.lit(num * 1_000_000 // den)
        ).otherwise(keep)
    return df.where(keep)


def bpe_train_merges(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    count_col: str = "n",
    return_segmentation: bool = False,
) -> (
    list[tuple[int, str, str, str, int]]
    | tuple[list[tuple[int, str, str, str, int]], DataFrame]
):
    """DISTRIBUTED BPE TOKENIZER TRAINING (Sennrich et al. 2016,
    arXiv:1508.07909): learn ``n_merges`` merge rules from a
    (word, count) vocabulary — the tokenizer-fitting step of an LLM
    data pipeline, and this engine's canonical driver-coordinated
    iterative algorithm (like PageRank's convergence loop, but the
    per-round reduction is an argmax the driver must see to build the
    next round's plan).

    Per round, entirely on executors: (1) adjacent symbol pairs of
    every word's current segmentation fan out via a JVM higher-order
    transform (overlapping pairs, weighted by word count — Sennrich's
    get_stats); (2) one partial+final aggregate + deterministic top-1
    (count DESC, pair ASC — TakeOrderedAndProject) yields the best
    pair; (3) a greedy left-to-right fold (F.aggregate) rewrites every
    segmentation, merging non-overlapping occurrences. The ONLY
    driver traffic is the 1-row argmax per round — the same bounded
    collect class as the IVF-PQ codebook sample. State is the
    vocabulary-sized segmentation table, localCheckpointed each round
    so plans stay one-round deep; at 100 TB the corpus is touched once
    (to build the vocabulary) and every round shuffles only the
    distinct-word frame.

    Returns [(rank, left, right, merged, pair_count)], rank 1-based.
    With ``return_segmentation=True`` also returns the FINAL
    (w, c, seg) distinct-word segmentation frame (eagerly
    localCheckpointed — consumers read cached blocks, they do not
    replay training). Training already pays for this frame round by
    round, so corpus-wide apply statistics (symbols per word × word
    occurrence counts) can reuse it instead of re-folding every
    document through the merge table.
    """
    seg = words.select(
        F.col(word_col).alias("w"),
        F.col(count_col).alias("c"),
        F.split(F.col(word_col), "").alias("seg"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            seg.where(F.size("seg") >= 2)
            .select(
                "c",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("seg") - 1),
                        lambda i: F.struct(
                            F.element_at("seg", i).alias("l"),
                            F.element_at("seg", i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        l, r, cnt = pairs[0]["l"], pairs[0]["r"], int(pairs[0]["cnt"])
        merged = l + r
        merges.append((rank, l, r, merged, cnt))
        folded = F.aggregate(
            F.col("seg"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (x == F.lit(r)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(merged)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        seg = seg.select("w", "c", folded.alias("seg")).localCheckpoint(
            eager=True
        )
    if return_segmentation:
        return merges, seg
    return merges


def bpe_segment_col(text, merges: list[tuple[int, str, str, str, int]]):
    """Apply learned BPE merge rules to every whitespace token of
    ``text``, entirely as JVM higher-order expressions — the TOKENIZE
    step that pairs with ``bpe_train_merges`` (train on the corpus once,
    apply to every document forever after).

    Returns an array<array<string>> column: per word, its BPE symbol
    sequence after replaying the merge table in rank order. Each merge
    is the same greedy left-to-right fold the trainer uses, chained as
    ``n_merges`` nested F.aggregate passes over ≤word-length arrays —
    constant expression depth per merge, zero Python in the row path.
    Cost model: the fold rebuilds its accumulator array per step, so a
    single word costs O(word_len²) copies per merge — fine because word
    length is bounded (~tens of chars); corpus growth adds WORDS, and
    the op is linear in word count.
    """
    words = F.split(F.trim(text), r"\s+")
    segs = F.transform(words, lambda w: F.split(w, ""))

    def fold_merge(seg, l: str, r: str, merged: str):
        return F.aggregate(
            seg,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (x == F.lit(r)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(merged)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    def apply_one(l: str, r: str, merged: str):
        # bind per-merge constants outside the lambda: PySpark higher-
        # order lambdas must take exactly (x) or (x, i) parameters
        return lambda s: fold_merge(s, l, r, merged)

    for _, l, r, merged, _ in merges:
        segs = F.transform(segs, apply_one(l, r, merged))
    return segs


def minhash_lsh_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """DIRECTIONAL MinHash-LSH: an incoming batch probed against the
    standing corpus only — never batch×batch, never corpus×corpus.

    The incremental-ingestion shape of :func:`minhash_lsh_near_dup_pairs`:
    at 100 TB the corpus side's banded signatures are written once and
    re-read per batch (cf. the keyed cache sink), so each ingest pays
    O(batch) signature work plus a bucket join whose probe side is
    batch-sized. Same md5-as-permutation signatures, same banding, same
    exact-Jaccard verify — the two operators stay hash-compatible.

    Returns (new_id, corpus_id, jaccard) for banded candidates.
    """
    rows = num_hashes // bands
    assert rows * bands == num_hashes, "num_hashes must divide into bands"

    def band_hash(b: int) -> Column:
        parts: list[Column] = []
        for r in range(rows):
            if parts:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh_{b * rows + r}"))
        return F.md5(F.concat(*parts))

    def pipeline(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        df = repartition_for_cpu(df, id_col)
        sh = df.select(
            id_col, word_shingles_col(text_col, k).alias("shingles")
        )
        sig = sh.select(
            id_col,
            *[
                minhash_col(F.col("shingles"), i).alias(f"mh_{i}")
                for i in range(num_hashes)
            ],
        )
        banded = (
            sig.select(
                F.col(id_col),
                F.posexplode(
                    F.array(*[band_hash(b) for b in range(bands)])
                ).alias("band", "bh"),
            )
            .where(F.col("bh").isNotNull())
            .repartition("band", "bh")
        )
        return sh, banded

    sh_new, band_new = pipeline(new_df)
    sh_old, band_old = pipeline(corpus_df)
    cand = (
        band_new.select(
            F.col(id_col).alias("new_id"), "band", "bh"
        )
        .join(
            band_old.select(F.col(id_col).alias("corpus_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    sa = sh_new.select(F.col(id_col).alias("new_id"), F.col("shingles").alias("_sa"))
    sb = sh_old.select(
        F.col(id_col).alias("corpus_id"), F.col("shingles").alias("_sb")
    )
    return (
        cand.join(sa, "new_id")
        .join(sb, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            (
                F.size(F.array_intersect("_sa", "_sb"))
                / F.greatest(F.size(F.array_union("_sa", "_sb")), F.lit(1))
            ).alias("jaccard"),
        )
    )
