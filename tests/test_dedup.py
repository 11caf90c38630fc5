"""Dedup operators: exact, n-gram Jaccard, MinHash-LSH, SimHash."""

import pyspark.sql.functions as F
import pytest

from log_parser_cli_spark.extras.dedup import (
    exact_dup_stats,
    jaccard_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different content about spark pipelines here"),
        (5, "one two"),  # shorter than shingle+1
        (6, "x"),  # shorter than shingle size
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_stats(docs):
    r = exact_dup_stats(docs).first()
    assert r.n_docs == 6
    assert r.n_distinct == 5
    assert r.n_dup_rows == 2
    assert r.n_dup_groups == 1


def test_jaccard_pairs_finds_near_and_exact_dups(docs):
    pairs = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 3)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_equals_bruteforce_on_found_pairs(docs):
    brute = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    mh = {(r.a, r.b): r.jaccard for r in minhash_dedup(docs, threshold=0.5).collect()}
    # LSH may miss pairs (probabilistic recall) but never invents them, and
    # scores agree exactly where found. Exact dups always share every band.
    assert set(mh) <= set(brute)
    assert (1, 3) in mh
    for p, j in mh.items():
        assert j == brute[p]


def test_candidate_restricted_jaccard_equals_bruteforce(docs, spark):
    """The input-restricted candidate join computes the SAME jaccard values
    as the self-join path when the candidate set is complete — also when the
    candidates carry stray (here deliberately wrong) ``sz_a``/``sz_b``."""
    brute = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, threshold=0.0).collect()}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "a long, b long"
    )
    wrong_sizes = all_pairs.withColumn("sz_a", F.lit(1000)).withColumn("sz_b", F.lit(1))
    for candidates in (all_pairs, wrong_sizes):
        cand = {
            (r.a, r.b): r.jaccard
            for r in jaccard_pairs(docs, threshold=0.0, candidates=candidates).collect()
        }
        assert cand == brute


def test_minhash_signature_shape(docs):
    sig = minhash_signatures(docs)
    rows = sig.collect()
    assert all(len(r.sig) == 16 for r in rows)
    # sz = distinct bigrams; the one-word doc 6 has none, so no row
    assert {r.doc: r.sz for r in rows} == {1: 8, 2: 8, 3: 8, 4: 6, 5: 1}
    # identical docs → identical signatures
    by_doc = {r.doc: list(r.sig) for r in rows}
    assert by_doc[1] == by_doc[3]


def test_simhash_hamming(spark, docs):
    fp = simhash(docs)
    by_doc = {r.doc: r.simhash for r in fp.collect()}
    assert by_doc[1] == by_doc[3]  # identical text → identical fingerprint
    # radius 10 needs > 10 chunks for the pigeonhole guarantee (12 × 5-bit)
    pairs = {
        (r.a, r.b): r.hamming
        for r in simhash_pairs(fp, max_hamming=10, chunks=12).collect()
    }
    assert pairs.get((1, 3)) == 0
    assert (1, 2) in pairs  # near-dup within small hamming distance
    assert (1, 4) not in pairs


def test_simhash_pairs_rejects_recall_hole(docs):
    """chunks ≤ max_hamming voids the pigeonhole guarantee — must raise, not
    silently drop pairs that differ in every chunk."""
    import pytest

    fp = simhash(docs)
    with pytest.raises(ValueError, match="chunks > max_hamming"):
        simhash_pairs(fp, max_hamming=8, chunks=4)


def test_simhash_banding_recall_is_total(spark, docs):
    """Pigeonhole recall check at unit scale: banded pairs == brute-force
    pairs at the same radius."""
    import pyspark.sql.functions as F

    fp = simhash(docs).cache()
    banded = {
        (r.a, r.b) for r in simhash_pairs(fp, max_hamming=3, chunks=4).collect()
    }
    brute = {
        (r.x, r.y)
        for r in fp.alias("p")
        .join(fp.alias("q"), F.col("p.doc") < F.col("q.doc"))
        .select(
            F.col("p.doc").alias("x"),
            F.col("q.doc").alias("y"),
            F.bit_count(F.expr("p.simhash ^ q.simhash")).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    fp.unpersist()
    assert banded == brute


def test_simhash_pairs_no_crossjoin(spark, docs):
    """The candidate join must be an equi-join on chunk values, not a cartesian."""
    fp = simhash(docs)
    plan = simhash_pairs(fp).sample(False, 1.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_wide_combo_recall_is_total(spark, docs):
    """Combination pigeonhole at radius 8 (10 chunks, pair-combos): banded
    pairs == brute-force pairs — the wide-radius guarantee the single-chunk
    scheme cannot give without collapsing to 6-bit buckets."""
    import pyspark.sql.functions as F

    fp = simhash(docs).cache()
    banded = {
        (r.a, r.b)
        for r in simhash_pairs(fp, max_hamming=8, chunks=10, combo_size=2).collect()
    }
    brute = {
        (r.x, r.y)
        for r in fp.alias("p")
        .join(fp.alias("q"), F.col("p.doc") < F.col("q.doc"))
        .select(
            F.col("p.doc").alias("x"),
            F.col("q.doc").alias("y"),
            F.bit_count(F.expr("p.simhash ^ q.simhash")).alias("h"),
        )
        .filter(F.col("h") <= 8)
        .collect()
    }
    fp.unpersist()
    assert banded == brute


def test_simhash_wide_rejects_unsound_params(docs):
    """combo_size beyond chunks - max_hamming (or a non-dividing chunk count)
    voids the combination guarantee — must raise."""
    import pytest

    fp = simhash(docs)
    with pytest.raises(ValueError, match="combo_size"):
        simhash_pairs(fp, max_hamming=8, chunks=10, combo_size=3)
    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(fp, max_hamming=8, chunks=9)


def test_hot_bucket_guard_star_caps_degenerate_corpus(spark):
    """Round-4 verdict #1: 1.2k identical docs put ~n rows in every band
    bucket; unguarded, the banded self-join's OUTPUT is C(n,2) ≈ 719k pairs —
    quadratic, and AQE cannot split a quadratic output. With the guard, each
    hot bucket emits a spanning star: exactly n-1 pairs, all anchored on the
    lexicographically smallest doc, hamming 0."""
    n = 1200
    df = spark.createDataFrame(
        [(i, "boilerplate cookie banner repeated on every page") for i in range(n)],
        "doc_id long, text string",
    )
    fp = simhash(df)
    got = simhash_pairs(fp, max_hamming=3, chunks=4, max_bucket=64).collect()
    assert len(got) == n - 1  # O(n), not C(n,2)
    assert all(r.a == 0 and r.hamming == 0 for r in got)
    assert {r.b for r in got} == set(range(1, n))


def test_hot_bucket_guard_reports_capped_buckets(spark):
    """No silent truncation: hot_bucket_stats names every capped bucket."""
    from log_parser_cli_spark.extras.dedup import bit_bands, hot_bucket_stats

    n = 300
    df = spark.createDataFrame(
        [(i, "identical text for the hot bucket test") for i in range(n)],
        "doc_id long, text string",
    )
    banded = bit_bands(simhash(df), "simhash", 15, [(c,) for c in range(4)])
    stats = hot_bucket_stats(banded, ["band", "val"], max_bucket=64).collect()
    # every chunk of the shared fingerprint is one hot bucket of n docs
    assert len(stats) == 4
    assert all(r.n_docs == n for r in stats)


def test_hot_bucket_guard_noop_below_cap(spark, docs):
    """A cap larger than every bucket must reproduce the unguarded pair set
    exactly (the oracle-verified shape)."""
    fp = simhash(docs)
    unguarded = {(r.a, r.b, r.hamming) for r in simhash_pairs(fp, 3, 4).collect()}
    guarded = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs(fp, 3, 4, max_bucket=10_000).collect()
    }
    assert guarded == unguarded


def test_connected_components_labels_dup_groups(spark):
    """Dedup materialization: pairs → min-label components; isolated docs
    are singleton components; a 30-edge chain (diameter >> 1 round)
    converges to one component — the per-round convergence check works."""
    from log_parser_cli_spark.extras.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)], "a long, b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 99]], "doc long"
    )
    comp = {r.doc: r.component for r in connected_components(pairs, docs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 99: 99}

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], "a long, b long")
    comp2 = {r.doc: r.component for r in connected_components(chain).collect()}
    assert set(comp2.values()) == {0}
    assert len(comp2) == 31


def test_hot_bucket_two_level_star_keeps_exact_dup_groups(spark):
    """Review fix: the guard's star edges pass through the downstream radius
    filter, so a one-level star anchored on the BUCKET min would lose every
    pair of a second exact-dup group whose fingerprint is far from the
    anchor. The two-level star links identical-fingerprint members at
    distance 0 first — both groups keep all their pairs; only the single
    inter-group representative edge is subject to the radius."""
    from log_parser_cli_spark.extras.dedup import simhash_pairs

    fp_a = 0
    fp_b = sum(1 << b for b in range(15, 23))  # shares chunk 0 (bits 0-14), hamming 8
    rows = [(i, fp_a) for i in range(600)] + [(i, fp_b) for i in range(600, 1200)]
    fp = spark.createDataFrame(rows, "doc long, simhash long")
    got = simhash_pairs(fp, max_hamming=3, chunks=4, max_bucket=64).collect()
    # 599 intra-A pairs (anchor 0) + 599 intra-B pairs (anchor 600); the
    # inter-group edge (0, 600) is at hamming 8 and correctly filtered
    assert len(got) == 1198
    assert all(r.hamming == 0 for r in got)
    assert {r.a for r in got} == {0, 600}
    assert {r.b for r in got if r.a == 600} == set(range(601, 1200))


def test_simhash_candidates_guard_uses_two_level_star(spark):
    """Second review pass: simhash_candidates carries the full fingerprint
    as payload — the guard must refine on it, so two exact-dup groups
    sharing a hot bucket keep their intra-group candidate edges instead of
    all anchoring on the bucket min."""
    from log_parser_cli_spark.extras.dedup import simhash_candidates

    fp_a = 0
    fp_b = sum(1 << b for b in range(15, 23))  # shares chunk 0, differs elsewhere
    rows = [(i, fp_a) for i in range(300)] + [(i, fp_b) for i in range(300, 600)]
    fp = spark.createDataFrame(rows, "doc long, simhash long")
    got = {(r.a, r.b) for r in simhash_candidates(fp, max_bucket=64).collect()}
    # group B's members must anchor on B's min (300), not the global min 0
    assert {(300, b) for b in range(301, 600)} <= got
    assert (0, 300) in got  # the single inter-group representative edge
