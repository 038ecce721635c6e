"""Text operators: unit, property, and pipeline-quality tests."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark.functions.nfkd import _fold_one, nfkd_fold_col
from big_data_imdb_classifier_spark.operators import text as TX

from .conftest import SF_ORACLE

# ---------------------------------------------------------------------------
# NFKD fold (reference preprocess_text contract, data_utils.py:159-184)
# ---------------------------------------------------------------------------


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_nfkd_fold_ascii_closure_and_idempotence(s):
    out = _fold_one(s)
    if out is not None:
        assert out.isascii()
        assert out == out.strip()
        # idempotence: folding an already-folded string is a no-op
        assert _fold_one(out) == out


def test_nfkd_fold_reference_examples():
    # punctuation (incl. the em-dash) is *removed*, not space-replaced —
    # the reference's re.sub(r'[^a-zA-Z0-9\s]', '', s) contract
    assert _fold_one("  café—crème!  ") == "Cafecreme"
    assert _fold_one("ŁÓDŹ 42") == "Odz 42"  # Ł has no NFKD ASCII decomposition
    assert _fold_one("???") is None  # all-punct → empty → None
    assert _fold_one("") is None
    assert _fold_one(None) is None
    assert _fold_one("hello world") == "Hello World"


def test_nfkd_pandas_udf_matches_python(spark):
    rows = [("  café!",), ("ABC def",), (None,), ("日本語 ok",), ("x" * 5,)]
    df = spark.createDataFrame(rows, ["t"])
    got = [r.o for r in df.select(nfkd_fold_col("t").alias("o")).collect()]
    assert got == [_fold_one(t) for (t,) in rows]


# ---------------------------------------------------------------------------
# Shingles / MinHash
# ---------------------------------------------------------------------------


def test_word_shingles_short_doc_is_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",), ("",)], ["text"])
    out = df.select(TX.word_shingles_col("text", 3).alias("s")).collect()
    assert out[0].s == []  # n=2 < k=3 — the clamped-sequence edge case
    assert out[1].s == ["a b c", "b c d"]
    assert out[2].s == []


def test_minhash_identical_docs_equal_signatures(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        ["doc_id", "text"],
    )
    sh = df.select(
        "doc_id", TX.word_shingles_col("text", 3).alias("s")
    ).select("doc_id", *[TX.minhash_col(F.col("s"), i).alias(f"m{i}") for i in range(4)])
    a, b = sh.orderBy("doc_id").collect()
    assert [a[f"m{i}"] for i in range(4)] == [b[f"m{i}"] for i in range(4)]


def test_lsh_pipeline_recall_and_verify(spark, duck):
    """The banded LSH pipeline must recover every planted near-dup pair
    (true Jaccard >= 0.7) in the sf0.01 documents table, and the emitted
    jaccard column must let downstream filter LSH false positives."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    pairs = TX.minhash_lsh_near_dup_pairs(docs).collect()
    cand = {(r.doc_a, r.doc_b) for r in pairs}

    truth = duck.execute(
        r"""
        WITH d AS (
          SELECT doc_id,
            list_distinct(list_transform(
              generate_series(1, len(regexp_split_to_array(trim(text),'\s+'))-2),
              i -> array_to_string(list_slice(regexp_split_to_array(trim(text),'\s+'), i, i+2), ' '))) sh
          FROM documents)
        SELECT a.doc_id, b.doc_id
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
              / greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.7
        """
    ).fetchall()
    truth_pairs = {(a, b) for a, b in truth}

    assert truth_pairs, "testdata should contain planted near-dup pairs"
    recall = len(cand & truth_pairs) / len(truth_pairs)
    assert recall == 1.0, f"LSH missed planted near-dups: recall={recall}"
    # verify column separates true pairs from banding false positives
    verified = {(r.doc_a, r.doc_b) for r in pairs if r.jaccard >= 0.7}
    assert verified == truth_pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def test_simhash_metric_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "spark shuffles data between stages during wide operations"),
            (2, "spark shuffles data between stages during wide operations"),
            (3, "spark shuffles data between stages during wide transforms"),
            (4, "completely unrelated words about gardening tulips in spring"),
        ],
        ["doc_id", "text"],
    )
    sig = {r.doc_id: r.simhash for r in TX.simhash(df).collect()}

    def ham(a, b):
        return bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1")

    assert ham(1, 2) == 0  # identical text, identical signature
    assert ham(1, 3) < ham(1, 4)  # near-dup closer than unrelated
    assert ham(1, 3) <= 16


# ---------------------------------------------------------------------------
# Quality / language features
# ---------------------------------------------------------------------------


def test_quality_score_bounds(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(200)
    sw = TX.LANG_MARKERS["en"]
    row = docs.select(
        F.min(TX.quality_score_col("text", sw)).alias("lo"),
        F.max(TX.quality_score_col("text", sw)).alias("hi"),
    ).first()
    assert 0.0 <= row.lo <= row.hi <= 1.0


def test_lang_id_deterministic_tiebreak(spark):
    # no markers at all -> every score 0 -> alphabetically-first lang wins
    df = spark.createDataFrame([("zzz qqq www",)], ["text"])
    out = df.select(TX.lang_id_col("text").alias("l")).first()
    assert out.l == sorted(TX.LANG_MARKERS)[0]


def test_simhash_near_dup_pairs_exact_vs_brute_force(spark):
    """Banding must lose nothing at hamming <= 3 (pigeonhole): compare
    against the all-pairs scan of the collected signatures."""
    from big_data_imdb_classifier_spark.operators import text as TX
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in TX.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    sigs = {r.doc_id: r.simhash for r in TX.simhash(docs).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            if h <= 3:
                want.add((a, b, h))
    assert got == want
    assert len(want) > 0, "corpus should contain planted near-dups"


def test_count_enrich_salted_matches_window_variant(spark):
    from big_data_imdb_classifier_spark.operators.relational import (
        count_enrich,
        count_enrich_salted,
    )
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    a = count_enrich(li, "l_suppkey", "n")
    b = count_enrich_salted(li, "l_suppkey", "n", salt_buckets=8)
    assert sorted(tuple(r) for r in a.collect()) == sorted(
        tuple(r) for r in b.collect()
    )


def test_asof_join_strict_vs_inclusive(spark):
    """Strictness contract: a right row at exactly the left timestamp is
    excluded under strict=True, included under strict=False."""
    from datetime import datetime

    from big_data_imdb_classifier_spark.operators.relational import asof_join

    def ts(s):
        return datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "L1"),
         (1, ts("2024-01-01T12:00:00"), "L2")],
        "k long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), 100.0),
         (1, ts("2024-01-01T11:00:00"), 200.0)],
        "k long, ts timestamp, v double",
    )
    strict = {
        r.name: r.v_asof
        for r in asof_join(left, right, ["k"], "ts", ["v"], strict=True).collect()
    }
    incl = {
        r.name: r.v_asof
        for r in asof_join(left, right, ["k"], "ts", ["v"], strict=False).collect()
    }
    assert strict == {"L1": None, "L2": 200.0}
    assert incl == {"L1": 100.0, "L2": 200.0}


def test_connected_components_min_label(spark):
    """Hand graph: two components + a chain that needs multi-hop
    propagation; labels must equal the true min of each component."""
    from big_data_imdb_classifier_spark.operators.text import (
        connected_components_min_label,
    )

    pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 8),          # chain -> component 5
         (1, 9), (2, 9),                  # star  -> component 1
         (20, 30)],                       # pair  -> component 20
        "doc_a long, doc_b long",
    )
    got = {
        r.node: r.component
        for r in connected_components_min_label(pairs, max_iter=10).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5, 8: 5,
                   1: 1, 2: 1, 9: 1,
                   20: 20, 30: 20}


def test_connected_components_round_limit_raises(spark):
    """A 50-node path graph needs 49 propagation rounds: the default
    round limit must raise rather than return a partial labelling, and
    a large enough limit yields one component labelled 0."""
    import pytest

    from big_data_imdb_classifier_spark.operators.text import (
        connected_components_min_label,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="max_iter=10"):
        connected_components_min_label(pairs)
    got = {
        r.node: r.component
        for r in connected_components_min_label(pairs, max_iter=60).collect()
    }
    assert got == {i: 0 for i in range(50)}


def test_near_dup_clusters_against_union_find(spark):
    """On the real corpus: distributed CC must match a driver union-find
    over the same pair list."""
    from big_data_imdb_classifier_spark.operators import text as TX
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from pyspark.sql import functions as F
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs_df = TX.minhash_lsh_near_dup_pairs(docs).where(F.col("jaccard") >= 0.5)
    pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
    assert pairs, "corpus should contain near-dup pairs"

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    got = {
        r.node: r.component
        for r in TX.connected_components_min_label(pairs_df).collect()
    }
    assert got == want


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Batch 2 must drop content already registered by batch 1, keep new
    content, and collapse its own internal duplicates."""
    from big_data_imdb_classifier_spark.operators.text import incremental_dedup

    store = str(tmp_path / "fp_store")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    s1 = incremental_dedup(spark, b1, store)
    assert sorted(r.doc_id for r in s1.collect()) == [1, 2]  # 3 is an in-batch dup

    b2 = spark.createDataFrame(
        [(10, "alpha beta"),        # seen in batch 1 -> dropped
         (11, "epsilon zeta"),      # new -> kept
         (12, "epsilon zeta")],     # in-batch dup -> dropped
        "doc_id long, text string",
    )
    s2 = incremental_dedup(spark, b2, store)
    assert sorted(r.doc_id for r in s2.collect()) == [11]

    # re-running batch 2 is a no-op (its content is now registered)
    s3 = incremental_dedup(spark, b2, store)
    assert s3.count() == 0


def test_corpus_shape_supports_nfkd_oracle(spark):
    """The text_nfkd_normalize oracle reduces NFKD-fold to per-word
    title-casing, which is exact ONLY while the synthetic corpus is pure
    lowercase ASCII, single-spaced, punctuation-free. If this test fails,
    the driver's testdata generator changed shape: flip the query back to
    rows-only (drop its oracle) rather than chasing a hash mismatch."""
    import re

    from .conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    bad = (
        docs.selectExpr(
            "doc_id",
            "text rlike '[^a-z0-9 ]' as has_other",
            "text rlike '  ' as has_double_space",
            "text rlike '^ | $' as has_edge_space",
        )
        .where("has_other or has_double_space or has_edge_space")
        .count()
    )
    assert bad == 0, (
        "corpus shape changed — text_nfkd_normalize oracle no longer exact"
    )
    # and the pure-Python fold agrees with the title-case reduction on a
    # sample, the exact equivalence the oracle encodes
    sample = [r.text for r in docs.limit(20).collect()]
    for t in sample:
        reduced = " ".join(
            w[:1].upper() + w[1:] for w in t.strip().split(" ")
        ) or None
        assert _fold_one(t) == reduced, t[:50]


# ---------------------------------------------------------------------------
# Composed curation funnel (corpus_curation_e2e)
# ---------------------------------------------------------------------------


def test_curation_funnel_invariants(spark):
    """The composed funnel must be internally consistent AND agree with
    the standalone stage queries it claims to reuse: monotone retention,
    exact-dedup stage == distinct fingerprint count, sampled stage == the
    deterministic quarter of the decontaminated survivors."""
    from big_data_imdb_classifier_spark import plans
    from .conftest import SF_SMOKE

    plans.load_all()
    rows = {
        r["stage"]: r
        for r in plans.QUERIES["corpus_curation_e2e"](spark, SF_SMOKE).collect()
    }
    order = [
        "raw", "exact_dedup", "near_dedup", "quality", "decontaminated",
        "sampled",
    ]
    assert [s for s, _ in sorted(
        ((r["stage"], r["stage_ord"]) for r in rows.values()),
        key=lambda x: x[1],
    )] == order
    # monotone non-increasing doc and token counts down the funnel
    for a, b in zip(order, order[1:]):
        assert rows[b]["n_docs"] <= rows[a]["n_docs"], (a, b)
        assert rows[b]["n_tokens"] <= rows[a]["n_tokens"], (a, b)
    assert rows["raw"]["retained_frac"] == 1.0
    assert rows["sampled"]["n_docs"] > 0

    # stage 1 must equal the standalone exact-dedup survivor count
    n_fp = plans.QUERIES["dedup_exact"](spark, SF_SMOKE).count()
    assert rows["exact_dedup"]["n_docs"] == n_fp

    # the sample stage is the same deterministic hash predicate as
    # sample_by_hash_quarter: re-applying it to the decontaminated
    # survivors inside the funnel's own lineage must reproduce the count
    frac = rows["sampled"]["n_docs"] / rows["decontaminated"]["n_docs"]
    assert 0.05 < frac < 0.5  # quarter-ish, deterministic, never empty


def test_bpe_oracle_delimiters_absent_from_corpus(spark):
    """The unrolled BPE DuckDB oracle wraps symbols in chr(30)/chr(31)
    delimiters; its replace-based merge rewrite is only equivalent to
    the greedy fold if neither byte occurs in any token. Assert that at
    every generated SF so a corpus change can't silently corrupt the
    oracle."""
    import glob
    import os

    import duckdb

    from .conftest import TESTDATA_ROOT

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(TESTDATA_ROOT, "sf*", "documents.parquet"))):
        bad = con.execute(
            "SELECT count(*) FROM read_parquet(?) "
            "WHERE text LIKE '%' || chr(30) || '%' "
            "   OR text LIKE '%' || chr(31) || '%'",
            [path],
        ).fetchone()[0]
        assert bad == 0, path


def test_bpe_matches_pure_python_reference(spark):
    """The distributed BPE trainer must reproduce the sequential
    Sennrich algorithm exactly: overlapping pair counts weighted by
    word frequency, deterministic (count DESC, pair ASC) tiebreak,
    greedy left-to-right non-overlapping merge rewrite."""
    import re

    from big_data_imdb_classifier_spark.operators.text import (
        bpe_train_merges,
    )
    from big_data_imdb_classifier_spark.sources.readers import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    word_counts: dict[str, int] = {}
    for row in docs.select("text").collect():
        for w in re.split(r"\s+", row["text"].strip()):
            word_counts[w] = word_counts.get(w, 0) + 1

    def ref(word_counts, k):
        segs = {w: list(w) for w in word_counts}
        merges = []
        for rank in range(1, k + 1):
            stats: dict[tuple[str, str], int] = {}
            for w, c in word_counts.items():
                s = segs[w]
                for i in range(len(s) - 1):
                    stats[(s[i], s[i + 1])] = stats.get(
                        (s[i], s[i + 1]), 0
                    ) + c
            if not stats:
                break
            (l, r), cnt = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((rank, l, r, l + r, cnt))
            for w, s in segs.items():
                out: list[str] = []
                for x in s:
                    if out and out[-1] == l and x == r:
                        out[-1] = l + r
                    else:
                        out.append(x)
                segs[w] = out
        return merges

    vocab = spark.createDataFrame(
        list(word_counts.items()), "w STRING, n LONG"
    )
    got = bpe_train_merges(vocab, 6, word_col="w", count_col="n")
    want = ref(word_counts, 6)
    assert got == want


def test_bpe_segment_col_round_trips_reference(spark):
    """Applying the learned merges with bpe_segment_col must reproduce
    the reference segmentations exactly (same greedy fold as training),
    and concatenating each word's symbols must recover the word."""
    import re

    from big_data_imdb_classifier_spark.operators.text import (
        bpe_segment_col,
        bpe_train_merges,
    )

    texts = [
        "lower lowest newest widest new wide low",
        "low low low lower lower newest",
        "the newest widest lowest low",
    ]
    word_counts: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"\s+", t.strip()):
            word_counts[w] = word_counts.get(w, 0) + 1
    vocab = spark.createDataFrame(
        list(word_counts.items()), "w STRING, n LONG"
    )
    merges = bpe_train_merges(vocab, 5, word_col="w", count_col="n")

    def ref_apply(word, merges):
        s = list(word)
        for _, l, r, m, _ in merges:
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = m
                else:
                    out.append(x)
            s = out
        return s

    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = df.select(
        "text", bpe_segment_col(F.col("text"), merges).alias("segs")
    ).collect()
    for row in got:
        words = re.split(r"\s+", row["text"].strip())
        assert len(row["segs"]) == len(words)
        for w, seg in zip(words, row["segs"]):
            assert seg == ref_apply(w, merges), (w, seg)
            assert "".join(seg) == w


def test_scan_partitions_estimate_matches_spark_planner(spark, tmp_path):
    """_scan_partitions_estimate must reproduce Spark's OWN
    FilePartition bin-packing — estimate == the partition count the
    parquet scan actually plans — across open-cost regimes including
    the boundary where Spark packs a split whose raw length fits but
    whose open-cost-padded length does not (round-8 ADVICE: counting
    the open cost in the overflow check overshoots there, silently
    skipping the CPU-spreading repartition)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_imdb_classifier_spark.plans.queries_text import (
        _scan_partitions_estimate,
    )

    docs_dir = tmp_path / "documents.parquet"
    docs_dir.mkdir()
    # 60 small files of a few KB each — the many-small-shards corpus
    # layout the estimate exists for.
    for i in range(60):
        tbl = pa.table(
            {
                "doc_id": list(range(i * 10, i * 10 + 10)),
                "text": [f"token{i}_{j} " * 40 for j in range(10)],
            }
        )
        pq.write_table(tbl, docs_dir / f"shard{i:03d}.parquet")

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        # Sweep open costs so the greedy packing crosses partition
        # boundaries at different points (incl. the fits-raw-but-not-
        # padded boundary); equality must hold at every setting.
        for open_cost in ("1024b", "2048b", "4096b", "8192b", "16384b"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728b")
            spark.conf.set("spark.sql.files.openCostInBytes", open_cost)
            actual = spark.read.parquet(str(docs_dir)).rdd.getNumPartitions()
            est = _scan_partitions_estimate(spark, str(tmp_path))
            assert est == actual, (
                f"openCost={open_cost}: estimate {est} != planned {actual}"
            )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_jaccard_prefix_vocab_switch_changes_join_plan(spark):
    """The corpus-scaled dfreq join switch (broadcast below the
    vocabulary budget, shuffle join above) must be visible in the
    PRE-checkpoint index plan — the full query localCheckpoints the
    index, after which the join strategy is invisible in the query's
    own plan (round-9 finding: an in-plan probe of the final query
    read identical plans at 50k and 5M docs). Forcing the budget to 1
    must swap the BroadcastHashJoin for a shuffle join AND leave the
    result set unchanged (the switch is a physical-plan choice only)."""
    from big_data_imdb_classifier_spark.plans.queries_text import (
        jaccard_prefix_index,
    )
    from .conftest import SF_SMOKE

    # At smoke scale Catalyst auto-broadcasts the tiny dfreq on its own
    # size estimate, masking the switch; disable auto-broadcast so the
    # only difference between the two plans is the explicit hint — the
    # regime the switch exists for (a vocabulary past the auto-broadcast
    # threshold).
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)

        _sh, idx_bc = jaccard_prefix_index(spark, SF_SMOKE)
        p_bc = idx_bc._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p_bc  # explicit hint survives -1

        _sh, idx_sh = jaccard_prefix_index(spark, SF_SMOKE, vocab_budget=1)
        p_sh = idx_sh._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p_sh
        assert ("SortMergeJoin" in p_sh) or ("ShuffledHashJoin" in p_sh)

        rows_bc = {tuple(r) for r in idx_bc.collect()}
        rows_sh = {tuple(r) for r in idx_sh.collect()}
        assert rows_bc == rows_sh and len(rows_bc) > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_hitters_mg_vectorized_matches_exact(spark, tmp_path):
    """The vectorized Misra-Gries candidate pass (per-batch value_counts +
    mergeable-summaries dock, round 9) must keep the no-false-negative
    superset guarantee: the query's output equals the brute-force exact
    heavy-hitter set. The corpus is built so every scan partition holds
    far more distinct tokens than the 2/θ counter budget, forcing the
    dock/evict path to fire (a small-vocab corpus never docks and would
    not exercise the rewrite)."""
    import pyspark.sql.functions as F

    from big_data_imdb_classifier_spark.plans import queries_text as QT

    n_filler = 30_000  # ≫ _MG_CAP × test parallelism (2000 × 8)
    heavy = ["hh_alpha", "hh_beta", "hh_gamma"]
    rows = []
    fillers = [f"tok{i}" for i in range(n_filler)]
    per_doc = 100
    for d in range(n_filler // per_doc):
        toks = fillers[d * per_doc : (d + 1) * per_doc]
        # sprinkle heavy tokens through every 2nd doc: 50 docs × 30 = 1500
        # occurrences each, far over θ·N ≈ 0.001 × 34.5k ≈ 35
        if d % 2 == 0:
            toks = toks + [heavy[d % 3]] * 30
        text = " ".join(toks)
        rows.append((d, text, "en", "src0", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r.token, r.n_occurrences)
        for r in QT.heavy_hitters_mg_tokens(spark, str(tmp_path)).collect()
    }

    toks = spark.read.parquet(str(tmp_path / "documents.parquet")).select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    n = toks.count()
    exact = {
        (r.token, r.n_occurrences)
        for r in toks.groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .where(F.col("n_occurrences") > QT._MG_THETA * n)
        .collect()
    }
    assert got == exact
    assert {t for t, _ in got} == set(heavy)


def test_text_features_inline_bit_equal_to_per_column(spark):
    """The bound-struct generator form (round 9) must produce BIT-equal
    values to the original per-column helper expressions — same trees,
    evaluated once instead of five tokenizations per row."""
    from big_data_imdb_classifier_spark.sources.readers import load_table
    from .conftest import SF_SMOKE

    sw = TX.LANG_MARKERS["en"]
    docs = load_table(spark, SF_SMOKE, "documents")
    got = docs.select(
        "doc_id", F.inline(TX.text_features_inline("text", sw))
    )
    want = docs.select(
        "doc_id",
        TX.token_count_col("text").cast("long").alias("n_tokens"),
        TX.bpe_ish_token_count_col("text").cast("long").alias("n_bpe_tokens"),
        TX.punct_ratio_col("text").alias("punct_ratio"),
        TX.stopword_ratio_col("text", sw).alias("stopword_ratio"),
        TX.mean_token_len_col("text").alias("mean_token_len"),
        TX.quality_score_col("text", sw).alias("quality"),
    )
    g = {r.doc_id: tuple(r)[1:] for r in got.collect()}
    w = {r.doc_id: tuple(r)[1:] for r in want.collect()}
    assert g == w  # exact equality, not approx — the trees must match
