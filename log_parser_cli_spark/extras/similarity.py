"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k for a (small, broadcast) query set —
  the correctness baseline. The dot product is a JVM higher-order-function
  fold (F.aggregate over zip_with), no Python in the loop.
- ``rhp_candidates``: random-hyperplane LSH (Charikar 2002) candidate pairs —
  sign-bit signatures over deterministic md5-derived hyperplanes, banded
  equi-join; the scale path feeding ``cosine_pairs``. Hyperplanes are plain
  double literals, so a DuckDB oracle reproduces the exact same candidate set.
- ``kmeans_centroids``: deterministic Lloyd iterations (first-k init, fixed
  rounds) on a driver-side sample — real clustering for the IVF index.
- ``ivf_topk``: IVF-style scale path — vectors are bucketed by nearest
  centroid; queries probe only ``nprobe`` buckets, pruning the scan by
  ~n_centroids/nprobe. Centroids are inlined as double literals, like the
  hyperplanes, so the DuckDB oracle replays the same buckets.
- ``cosine_pairs``: embedding near-duplicate pairs (cos ≥ τ); pass LSH
  ``candidates`` for the scale plan (no corpus×corpus join).
- ``topk_recall``: recall@k of an approximate ranking vs the exact one.

All similarity math is computed in double and rounded, so a DuckDB oracle
reproduces values exactly at the rounded precision. Every operator reads the
embeddings table's ``vec_id`` / ``embedding`` columns.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_parser_cli_spark.extras.dedup import bit_band_pairs

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
NORM = "sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
ID_COL = "vec_id"
VEC_COL = "embedding"


def _cosine_expr(a: str, b: str) -> str:
    return f"({DOT.format(a=a, b=b)}) / (({NORM.format(a=a)}) * ({NORM.format(a=b)}))"


def _lit_array(vec: list[float]) -> str:
    """SQL double-array literal (repr round-trips exactly in Spark + DuckDB)."""
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec) + ")"


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    The query side is a broadcast of |query_ids| rows → the join is a
    broadcast nested loop over one corpus scan; ranking is a per-query
    window. Ties break on neighbor id for determinism.
    """
    scored = embeddings.alias("c").join(F.broadcast(_queries(embeddings, query_ids)))
    return _rank_neighbors(scored, k)


def _queries(embeddings: DataFrame, query_ids: list[int]) -> DataFrame:
    return embeddings.filter(F.col(ID_COL).isin(query_ids)).select(
        F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("qvec")
    )


def _rank_neighbors(scored: DataFrame, k: int) -> DataFrame:
    """Top-k of (query, candidate) rows by cosine rounded to 4 dp, self
    excluded; ties break on neighbor id."""
    scored = scored.filter(F.col(ID_COL) != F.col("query_id")).withColumn(
        "sim", F.round(F.expr(_cosine_expr("qvec", VEC_COL)), 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(ID_COL).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col(ID_COL).cast("long").alias("neighbor_id"),
            "sim",
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (deterministic, oracle-portable)
# ---------------------------------------------------------------------------


def _md5_unit(tag: str) -> float:
    """Deterministic pseudo-uniform value in [-1, 1) from md5 — portable to
    any engine because the plane ends up inlined as a double literal."""
    h = int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)
    return round(h / float(1 << 31) - 1.0, 9)


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """n_planes deterministic hyperplanes for sign-bit signatures."""
    return [[_md5_unit(f"hp|{j}|{d}") for d in range(dim)] for j in range(n_planes)]


def rhp_candidates(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 60,
    rows_per_band: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs (a < b) by banded random-hyperplane signatures.

    Each vector gets ``n_planes`` sign bits (dot with a hyperplane ≥ 0);
    bits group into bands of ``rows_per_band``; vectors sharing any band
    value become candidates via an equi-join on (band, value) — the shuffles
    are keyed on band buckets, never corpus×corpus. Every plane is inlined
    as a double-array LITERAL, so a DuckDB oracle replays the same
    signatures. ``max_bucket`` = hot-bucket guard (see
    ``dedup.banded_pair_join``).
    """
    if n_planes > 62:
        raise ValueError(f"n_planes={n_planes} must fit a signed 64-bit signature")
    planes = hyperplanes(n_planes, dim)
    sig_expr = " + ".join(
        f"(CASE WHEN ({DOT.format(a=VEC_COL, b=_lit_array(planes[j]))}) >= 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(n_planes)
    )
    # Pack ALL sign bits into ONE long signature per vector (the SimHash
    # shape), so band vals are bit-slices computed by JVM shifts AFTER the
    # explode. The explicit exchange on doc matters: without it whole-stage
    # codegen re-evaluated the 60 dot products per exploded row (measured
    # 4×); the signature is shuffle-materialized once per vector instead
    # (16 bytes/row, negligible next to the banded-row shuffle the join pays).
    sig = embeddings.select(
        F.col(ID_COL).alias("doc"), F.expr(sig_expr).alias("rhpsig")
    ).repartition("doc")
    bands = [(b,) for b in range(n_planes // rows_per_band)]
    return bit_band_pairs(sig, "rhpsig", rows_per_band, bands, max_bucket).select("a", "b")


def cosine_pairs(
    embeddings: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate pairs (a < b) with cosine ≥ threshold.

    With ``candidates`` (columns a, b — e.g. from ``rhp_candidates``) only
    those pairs are scored: the verify step of the LSH plan and the only
    shape that survives 100 TB. Without, an all-pairs self-join (test-scale
    baselines only).
    """
    # norms are per-VECTOR, not per-pair: compute them once in the side
    # projections instead of re-aggregating the array twice per candidate
    # pair (bit-identical — same NORM expression over the same array, and
    # sim keeps the exact dot/(na*nb) operation tree, only the operand
    # evaluation site moves)
    a = embeddings.select(
        F.col(ID_COL).alias("a"),
        F.col(VEC_COL).alias("va"),
        F.expr(NORM.format(a=VEC_COL)).alias("_na"),
    )
    b = embeddings.select(
        F.col(ID_COL).alias("b"),
        F.col(VEC_COL).alias("vb"),
        F.expr(NORM.format(a=VEC_COL)).alias("_nb"),
    )
    if candidates is not None:
        pairs = (
            candidates.select("a", "b")
            .join(a, "a")
            .join(b, "b")
        )
    else:
        pairs = a.join(b, F.col("a") < F.col("b"))
    sim = f"({DOT.format(a='va', b='vb')}) / (_na * _nb)"
    return (
        pairs.withColumn("sim", F.round(F.expr(sim), 4))
        .filter(F.col("sim") >= threshold)
        .select(F.col("a").cast("long"), F.col("b").cast("long"), "sim")
    )


# ---------------------------------------------------------------------------
# IVF with deterministic k-means centroids
# ---------------------------------------------------------------------------


def kmeans_centroids(vectors, k: int = 16, iters: int = 20) -> list[list[float]]:
    """Deterministic Lloyd k-means on a driver-side sample (cosine geometry:
    vectors and centroids are L2-normalized each round). Init = first k rows
    (callers pass id-ordered samples); empty clusters keep their previous
    centroid. Components round to 9 dp so centroid literals are portable."""
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    cents = x[:k].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return [[round(float(v), 9) for v in row] for row in cents]


CENTROID_SAMPLE = 4096
CENTROID_ITERS = 20


def centroids_from_parquet(
    path: str, k: int = 16, _io_stats: dict | None = None
) -> list[list[float]]:
    """Shared centroid source for the Spark query AND the DuckDB oracle:
    k-means (``CENTROID_ITERS`` rounds) the ``CENTROID_SAMPLE``
    smallest-vec_id vectors. Deterministic — both sides inline identical
    literals.

    Driver memory is BOUNDED: row groups stream through a max-heap that
    keeps only the sample's smallest vec_ids (never the full column — at
    the design scale, 10^9+ vectors × 768+ dims, a full read is a driver
    OOM in the index-build path). Row groups whose min(vec_id) statistic
    cannot beat the current sample's largest kept id are skipped entirely,
    so on id-sorted files only the first group(s) are ever decoded; files
    without stats or with shuffled ids still produce the identical result,
    just reading more groups. Bit-identical to a full read + sort + take:
    the kept set is exactly the sample's smallest ids, ascending.

    ``_io_stats`` (tests): filled with row_groups_read / num_row_groups.
    """
    import heapq

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    vec_leaf = None
    if md.num_row_groups:
        for j in range(md.row_group(0).num_columns):
            if md.row_group(0).column(j).path_in_schema == "vec_id":
                vec_leaf = j
                break

    def group_min(g: int):
        if vec_leaf is None:
            return None
        st = md.row_group(g).column(vec_leaf).statistics
        return st.min if st is not None and st.has_min_max else None

    sample = CENTROID_SAMPLE
    heap: list[tuple] = []  # max-heap via negated ids: the `sample` smallest
    groups_read = 0

    def consume(g: int) -> None:
        nonlocal groups_read
        groups_read += 1
        tbl = pf.read_row_group(g, columns=["vec_id", "embedding"])
        for vid, emb in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()):
            if len(heap) < sample:
                heapq.heappush(heap, (-vid, emb))
            elif vid < -heap[0][0]:
                heapq.heapreplace(heap, (-vid, emb))

    mins = {g: group_min(g) for g in range(md.num_row_groups)}
    for g in (g for g in mins if mins[g] is None):
        consume(g)  # no stats → cannot prune, must read
    for g in sorted((g for g in mins if mins[g] is not None), key=lambda g: mins[g]):
        if len(heap) >= sample and mins[g] > -heap[0][0]:
            break  # ascending mins: no later group can hold a smaller id
        consume(g)
    if _io_stats is not None:
        _io_stats["row_groups_read"] = groups_read
        _io_stats["num_row_groups"] = md.num_row_groups
    rows = sorted(heap, key=lambda t: -t[0])
    return kmeans_centroids([emb for _, emb in rows], k=k, iters=CENTROID_ITERS)


def _sims_expr(centroids: list[list[float]]) -> str:
    """SQL expr: array of 6-dp cosines of the embedding against every
    centroid literal."""
    sims = ", ".join(f"round({_cosine_expr(VEC_COL, _lit_array(c))}, 6)" for c in centroids)
    return f"array({sims})"


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-bucketed approximate top-k: assign every vector to its nearest
    k-means centroid, probe only the ``nprobe`` closest buckets per query.
    Returns the same schema as cosine_topk.

    Every centroid is inlined into the SQL text as a double-array literal,
    the carrier RHP's hyperplanes use: whole-stage codegen, no join, and a
    DuckDB oracle replays the same assignment. The plan grows as
    O(n_centroids × dim).
    """
    assigned = (
        embeddings.withColumn("_sims", F.expr(_sims_expr(centroids)))
        # first occurrence of the max → lowest centroid id wins ties
        .withColumn("cid", F.expr("array_position(_sims, array_max(_sims)) - 1"))
        .drop("_sims")
    )
    # per-query nprobe nearest centroids (tiny: |queries| × n_centroids)
    probe_structs = [
        F.struct(
            F.lit(cid).alias("cid"),
            F.expr(f"round({_cosine_expr('qvec', _lit_array(c))}, 6)").alias("qsim"),
        )
        for cid, c in enumerate(centroids)
    ]
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cid"))
    probes = (
        _queries(embeddings, query_ids)
        .select("query_id", "qvec", F.explode(F.array(*probe_structs)).alias("p"))
        .select("query_id", "qvec", "p.cid", "p.qsim")
        .withColumn("r", F.row_number().over(w_probe))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qvec", "cid")
    )
    return _rank_neighbors(assigned.join(F.broadcast(probes), "cid"), k)


def topk_recall(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """recall@k of an approximate ranking vs the exact one (shared schema
    query_id/neighbor_id): one row (k, n_queries, recall)."""
    hits = approx.join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    n_queries = exact.select("query_id").distinct().count()
    return hits.agg(
        F.lit(k).cast("long").alias("k"),
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.round(F.count("*") / (k * n_queries), 6).alias("recall"),
    )
