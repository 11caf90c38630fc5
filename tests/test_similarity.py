"""Similarity search: brute-force cosine top-k baseline + IVF scale path."""

import math

import numpy as np
import pytest

from log_parser_cli_spark.extras.similarity import cosine_pairs, cosine_topk, ivf_topk


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    # 3 well-separated clusters of 40 vectors each, dim 16
    centers = rng.normal(size=(3, 16)) * 10
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(40):
            v = centers[c] + rng.normal(size=16) * 0.5
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _brute_topk(rows, qid, k):
    q = next(r for r in rows if r[0] == qid)
    qv = np.array(q[1], dtype=np.float64)
    sims = []
    for vid, v, _ in rows:
        if vid == qid:
            continue
        v = np.array(v, dtype=np.float64)
        sims.append((round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 4), -vid))
    sims.sort(reverse=True)
    return [(-nid, s) for s, nid in sims[:k]]


def test_cosine_topk_matches_numpy(spark, emb):
    rows = [(r.vec_id, list(r.embedding), r.label) for r in emb.collect()]
    got = cosine_topk(emb, query_ids=[0, 40, 80], k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.sim))
    for qid in (0, 40, 80):
        expected = _brute_topk(rows, qid, 5)
        mine = sorted(by_q[qid])
        assert [(n, s) for _, n, s in mine] == [(n, round(s, 4)) for n, s in expected]


def test_topk_neighbors_stay_in_cluster(emb):
    got = cosine_topk(emb, query_ids=[0], k=10).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert all(labels[r.neighbor_id] == labels[0] for r in got)


def test_ivf_recall_vs_bruteforce(emb):
    from log_parser_cli_spark.extras.similarity import kmeans_centroids

    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    cents = kmeans_centroids([v for _, v in rows], k=8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, [0, 40, 80], k=10).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, [0, 40, 80], k=10, centroids=cents, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    # well-separated clusters: the probed buckets contain the true neighbors
    assert recall >= 0.9, f"IVF recall {recall}"


def test_ivf_recall_gate_on_driver_corpus(spark):
    """The north-star quality gate: recall@10 >= 0.9 on the synthetic driver
    embeddings at the configured (n_centroids, nprobe)."""
    from log_parser_cli_spark import entry_impl as EI

    recall_row = EI.q_ann_ivf_recall(spark, "/root/testdata/sf0.01").first()
    assert recall_row["recall"] >= 0.9, recall_row


def test_rhp_candidates_feed_cosine_pairs(emb):
    """LSH-candidate-fed pairs find every pair the all-pairs baseline finds
    at a high threshold (tight pairs always share band bits)."""
    from log_parser_cli_spark.extras.similarity import rhp_candidates

    base = {(r.a, r.b) for r in cosine_pairs(emb, threshold=0.98).collect()}
    cands = rhp_candidates(emb, dim=16, n_planes=60, rows_per_band=3)
    lsh = {
        (r.a, r.b)
        for r in cosine_pairs(emb, threshold=0.98, candidates=cands).collect()
    }
    assert base, "fixture should contain near-duplicate pairs"
    assert lsh == base


def test_kmeans_deterministic_and_normalized():
    from log_parser_cli_spark.extras.similarity import kmeans_centroids

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(100, 8)).tolist()
    a = kmeans_centroids(vecs, k=4)
    b = kmeans_centroids(vecs, k=4)
    assert a == b
    for c in a:
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-6)


def test_cosine_pairs_threshold(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.a, r.b) for r in cosine_pairs(df, threshold=0.99).collect()}
    assert pairs == {(0, 1)}


def test_rhp_hot_bucket_guard(spark):
    """The RHP candidate generator shares dedup's hot-bucket guard: n copies
    of one vector land in every band bucket; the star cap emits n-1
    candidates anchored on the smallest vec_id instead of C(n,2)."""
    from log_parser_cli_spark.extras.similarity import rhp_candidates

    n = 400
    base = [float((d * 7 + 3) % 11 - 5) for d in range(16)]
    df = spark.createDataFrame(
        [(i, base) for i in range(n)], "vec_id long, embedding array<float>"
    )
    got = rhp_candidates(df, dim=16, n_planes=24, rows_per_band=3, max_bucket=32).collect()
    assert len(got) == n - 1
    assert all(r.a == 0 for r in got)


def test_centroid_training_reads_only_needed_row_groups(tmp_path, monkeypatch):
    """Round-4 verdict #2: the IVF index-BUILD path must not materialize the
    whole embeddings column in the driver. On an id-sorted multi-row-group
    file, row-group min(vec_id) statistics prune everything past the sample;
    a shuffled layout still yields bit-identical centroids (just reads more
    groups). Reference result = the old full-read + sort + take."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_parser_cli_spark.extras import similarity
    from log_parser_cli_spark.extras.similarity import centroids_from_parquet, kmeans_centroids

    rng = np.random.default_rng(11)
    n, dim, sample = 1000, 8, 100
    embs = [[float(x) for x in rng.normal(size=dim)] for _ in range(n)]

    def write(path, order):
        tbl = pa.table(
            {
                "vec_id": pa.array([order[i] for i in range(n)], pa.int64()),
                "embedding": pa.array([embs[order[i]] for i in range(n)], pa.list_(pa.float64())),
            }
        )
        pq.write_table(tbl, path, row_group_size=200)  # 5 row groups

    sorted_path = str(tmp_path / "sorted.parquet")
    write(sorted_path, list(range(n)))
    expected = kmeans_centroids(embs[:sample], k=4, iters=5)
    monkeypatch.setattr(similarity, "CENTROID_ITERS", 5)
    monkeypatch.setattr(similarity, "CENTROID_SAMPLE", sample)

    stats = {}
    got = centroids_from_parquet(sorted_path, k=4, _io_stats=stats)
    assert got == expected
    assert stats["num_row_groups"] == 5
    assert stats["row_groups_read"] == 1  # sample=100 fits in the first group

    # shuffled file order: same centroids, more groups read (no pruning lies)
    shuffled_path = str(tmp_path / "shuffled.parquet")
    perm = list(rng.permutation(n))
    write(shuffled_path, perm)
    stats2 = {}
    got2 = centroids_from_parquet(shuffled_path, k=4, _io_stats=stats2)
    assert got2 == expected
    assert stats2["row_groups_read"] >= 1
