"""Deduplication operators for large-scale training-data pipelines.

All hashes are engine-portable (md5-hex → integer) so DuckDB oracles can
reproduce results bit-for-bit; all operators are pure DataFrame ops (JVM-side,
no Python UDFs) and scale-shaped:

- exact: one hash group-by (map-side combinable).
- word-bigram Jaccard: shingle-explode + equi-join on shingle — used as the
  *verifier* on candidate pairs; never run all-pairs at scale.
- MinHash + LSH: shingle → 16 seeded min-hashes → 4 band buckets →
  bucket-join for candidates → exact-Jaccard verification. The classic
  Broder construction; the only shuffles are keyed on shingles/bands.
- SimHash: word-hash sign-sum → 60-bit fingerprint; candidate pairs via
  pigeonhole banding (4×15-bit chunks) then Hamming ≤ r filter. Every
  packed-bit signature (SimHash, and RHP in extras/similarity.py) bands
  through ``bit_bands`` / ``bit_band_pairs``.
- embedding cosine near-dup: see extras/similarity.py for the kernel.

Every operator reads the documents table's ``doc_id`` / ``text`` columns.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ID_COL = "doc_id"
TEXT_COL = "text"
MINHASH_HASHES = 16
MINHASH_BANDS = 4
SIMHASH_CHUNKS = 4  # simhash_candidates' chunks, also the radius-3 queries' in entry_impl
MAX_CC_ITERS = 50


# Portable 32-bit hash of a string expression (same value in DuckDB via
# CAST(('0x' || substr(md5(x),1,8)) AS BIGINT)).
def hash32(col_expr: str, seed: str) -> str:
    return f"CAST(conv(substr(md5(concat('{seed}|', {col_expr})), 1, 8), 16, 10) AS BIGINT)"


def exact_dup_stats(df: DataFrame) -> DataFrame:
    """Exact duplicate statistics by content hash (A12-style distinct)."""
    hashed = df.select(ID_COL, F.expr(f"md5({TEXT_COL})").alias("h"))
    groups = hashed.groupBy("h").agg(F.count("*").alias("n"))
    return groups.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).cast("long").alias("n_dup_rows"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("n_dup_groups"),
    )


def shingles(df: DataFrame) -> DataFrame:
    """Distinct word-bigram shingles per document (lower-cased, space-split)."""
    words = f"split(lower({TEXT_COL}), ' ')"
    # pair adjacent words with one zip_with concat instead of a
    # slice+array_join allocation per shingle ('w1 w2' joined with a single
    # space), ~2× cheaper on the hot verify path that re-shingles per
    # jaccard pass
    sh = (
        f"CASE WHEN size({words}) < 2 THEN array() "
        f"ELSE array_distinct(zip_with({words}, slice({words}, 2, size({words}) - 1),"
        f" (a, b) -> CASE WHEN b IS NULL THEN NULL ELSE concat(a, ' ', b) END)) END"
    )
    sh = f"filter({sh}, x -> x IS NOT NULL)"
    return df.select(F.col(ID_COL).alias("doc"), F.explode(F.expr(sh)).alias("shingle"))


def _candidate_overlaps(candidates: DataFrame, sh: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, inter): shared-shingle counts for each candidate pair (a, b).

    Restricts the join INPUTS to candidate pairs before any pair is
    enumerated — a post-hoc semi-filter would still pay the quadratic
    shingle self-join inside hot duplicate groups. Work here is
    |candidates| × shingles-per-doc, all keyed equi-joins."""
    return (
        candidates.select(*keys)
        .join(sh.withColumnRenamed("doc", "a"), "a")
        .join(sh.withColumnRenamed("doc", "b"), ["b", "shingle"])
        .groupBy(*keys)
        .agg(F.count("*").alias("inter"))
    )


def _score_pairs(inter: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard) from (a, b, sz_a, sz_b, inter) rows, kept at ≥ threshold."""
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame, threshold: float = 0.5, candidates: DataFrame | None = None
) -> DataFrame:
    """Pairs (a, b, jaccard) with Jaccard ≥ threshold over bigram shingles.

    With ``candidates`` (columns a, b) only those pairs are scored — the
    scale path; without, scoring happens for every shingle-sharing pair
    (fine at test scale, quadratic in duplicate-group size at 100 TB).
    Any other candidate columns are ignored: shingle sizes always come from
    ``df`` itself.
    """
    # no .cache(): shingling is a narrow transform recomputed per reference
    # (3 scans max), and at the design scale a shingle cache wouldn't fit
    # executor storage anyway — a session-lifetime pin was the round-3 leak
    sh = shingles(df)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    if candidates is not None:
        inter = _candidate_overlaps(candidates, sh, ["a", "b"])
    else:
        inter = (
            sh.alias("x")
            .join(sh.alias("y"), "shingle")
            .filter(F.col("x.doc") < F.col("y.doc"))
            .groupBy(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
            .agg(F.count("*").alias("inter"))
        )
    return _score_pairs(
        inter.join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("sz", "sz_a"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("sz", "sz_b"), "b"),
        threshold,
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(doc, sig, sz): the array of ``MINHASH_HASHES`` min-hash values
    (portable seeded md5 hashes) and the distinct-shingle count.

    ``sz`` comes from the SAME aggregation, so a downstream Jaccard verify
    can consume it without its own shingle scan — and because both
    consumers then share one byte-identical aggregation subtree, Spark's
    ReuseExchange serves them from a single shuffle of the shingle stream."""
    aggs = [
        F.min(F.expr(hash32("shingle", seed=f"mh{i}"))).alias(f"h{i}")
        for i in range(MINHASH_HASHES)
    ]
    sig = shingles(df).groupBy("doc").agg(*aggs, F.count("*").alias("sz"))
    return sig.select(
        "doc", F.array(*[F.col(f"h{i}") for i in range(MINHASH_HASHES)]).alias("sig"), "sz"
    )


def hot_bucket_stats(banded: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Buckets above the cap, one row per (key..., n_docs) — the no-silent-caps
    REPORT that accompanies a guarded ``banded_pair_join``. Callers at scale
    surface this next to the pair output (the reference's posture: conflicts
    and failures are first-class reports, conflict-detector.ts:30-64)."""
    return (
        banded.groupBy(*keys)
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def banded_pair_join(
    banded: DataFrame,
    keys: list[str],
    max_bucket: int | None = None,
    payload: tuple[str, ...] = (),
    first_band_filter: str | None = None,
) -> DataFrame:
    """Self-join banded rows on bucket ``keys`` → distinct candidate pairs
    (a < b), carrying each ``payload`` column for both sides as <c>_a / <c>_b.
    The shared tail of every LSH candidate generator in this module and
    extras/similarity.py.

    ``max_bucket`` is the HOT-BUCKET GUARD. A bucket of m rows emits C(m, 2)
    pairs, so one degenerate bucket — thousands of empty/boilerplate docs
    sharing simhash 0, a dead band value — makes the join's OUTPUT quadratic,
    and AQE can split a skewed input but not a quadratic output. Buckets
    above the cap instead emit a TWO-LEVEL STAR in O(m) rows: members with
    an IDENTICAL ``payload`` (the carried full signature) link to their
    signature-group's smallest doc at signature distance 0 — so the
    exact-duplicate groups that actually cause degenerate buckets lose
    NOTHING to downstream distance filters — and the group minima link to
    the bucket's smallest doc. The guard is therefore an APPROXIMATION, and
    honestly so: a pair of DISTINCT signatures whose only shared buckets
    are capped survives downstream radius filtering only if the
    representative edges stay within the radius; exact pair semantics inside
    a hot bucket inherently require up to C(m, 2) distance checks, which is
    the very cost the cap exists to refuse. Pair-list semantics stay EXACT
    for every bucket ≤ max_bucket; capped buckets are reported by
    ``hot_bucket_stats`` over the same banded rows — no silent truncation.
    With an empty payload the group is the whole bucket, so the star is
    single-level (every member → bucket min). With the default None the
    guard is off (the oracle-verified exact shape; recall gates run here).

    ``first_band_filter`` replaces the pair-dedup DISTINCT with a predicate
    (SQL over the ``x``/``y`` aliases and the key columns) that is true for
    exactly ONE of a pair's colliding bands — the classic LSH trick when
    band membership is a pure function of the carried payload (packed
    signatures: band j collides iff the XOR's slices for combo j are all
    zero, so "band = first matching band" needs no data beyond the two
    signatures; see ``bit_band_pairs``). The DISTINCT is the dominant cost
    of the unguarded plan — it shuffles every (pair × colliding-band) row,
    two orders of magnitude more rows than the final pair set — while the
    filter is evaluated inside the join's codegen stage and nothing wide
    ever shuffles. Only valid WITHOUT the guard: under a cap, a pair's
    earliest matching band may sit in a capped bucket, so the row that the
    filter would keep might not exist (raises to prevent silent pair
    loss)."""
    if first_band_filter is not None and max_bucket is not None:
        raise ValueError(
            "first_band_filter cannot combine with max_bucket: a pair's first "
            "matching band may live in a capped bucket, silently dropping it"
        )

    def pair_select():
        return [
            F.col("x.doc").alias("a"),
            F.col("y.doc").alias("b"),
            *[F.col(f"x.{c}").alias(f"{c}_a") for c in payload],
            *[F.col(f"y.{c}").alias(f"{c}_b") for c in payload],
        ]

    if max_bucket is None:
        joined = (
            banded.alias("x")
            .join(banded.alias("y"), list(keys))
            .filter(F.col("x.doc") < F.col("y.doc"))
        )
        if first_band_filter is not None:
            return joined.filter(F.expr(first_band_filter)).select(*pair_select())
        return joined.select(*pair_select()).distinct()
    # one extra shuffle on the SAME bucket keys (AQE reuses the exchange);
    # per-partition state is O(bucket size) rows, never O(bucket²)
    w = Window.partitionBy(*keys)
    sized = banded.withColumn("_bsz", F.count("*").over(w))
    normal = sized.filter(F.col("_bsz") <= max_bucket).drop("_bsz")
    normal_pairs = (
        normal.alias("x")
        .join(normal.alias("y"), list(keys))
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(*pair_select())
    )
    hot = sized.filter(F.col("_bsz") > max_bucket).drop("_bsz")
    # two-level star (see docstring): payload-group min first, then bucket
    # min over the group minima
    grp = hot.groupBy(*keys, *payload).agg(F.min("doc").alias("_gmin"))
    intra = (
        hot.join(grp, [*keys, *payload])
        .filter(F.col("doc") != F.col("_gmin"))
        .select(
            F.col("_gmin").alias("a"),
            F.col("doc").alias("b"),
            # identical signature on both sides by construction
            *[F.col(c).alias(f"{c}_a") for c in payload],
            *[F.col(c).alias(f"{c}_b") for c in payload],
        )
    )
    reps = grp.select(*keys, *payload, F.col("_gmin").alias("doc"))
    brep = reps.groupBy(*keys).agg(F.min(F.struct("doc", *payload)).alias("_rep"))
    inter = (
        reps.join(brep, list(keys))
        .filter(F.col("doc") != F.col("_rep.doc"))
        .select(
            F.col("_rep.doc").alias("a"),
            F.col("doc").alias("b"),
            *[F.col(f"_rep.{c}").alias(f"{c}_a") for c in payload],
            *[F.col(c).alias(f"{c}_b") for c in payload],
        )
    )
    star = intra.unionByName(inter)
    return normal_pairs.unionByName(star).distinct()


FIRST_BAND_ARRAY_FILTER = (
    "band = array_position(zip_with(x._bands, y._bands, (p, q) -> p = q), true) - 1"
)
"""Generic first-matching-band predicate for banded rows that carry their
full per-band value array as ``_bands``: a pair is kept only in the first
band where the two arrays agree — the payload-array twin of the packed-
signature XOR construction (see ``bit_band_pairs``)."""


def minhash_banded(sig: DataFrame) -> DataFrame:
    """(doc, sz, _bands, band, bucket) banded rows for MinHash LSH over
    ``MINHASH_BANDS`` bands; ``_bands`` carries the doc's full bucket array
    for the first-band dedup filter and ``sz`` its shingle count, so the
    Jaccard verify needs no size joins."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    buckets = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc", "sz", buckets.alias("_bands")).select(
        "doc", "sz", "_bands", F.posexplode("_bands").alias("band", "bucket")
    )


def minhash_dedup(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard verify.

    The signature aggregation also emits each doc's shingle count, which
    rides the banding and the pair join as payload (``sz_a``/``sz_b``, +8
    bytes next to the ~128-byte ``_bands`` array already carried) — the
    Jaccard verify then needs NO size aggregation and NO size joins: two
    whole shingle passes and two joins gone from the plan (guide §2.3:
    shuffle keys and metadata, decide downstream from what already flowed)."""
    cands = banded_pair_join(
        minhash_banded(minhash_signatures(df)), ["band", "bucket"], None,
        payload=("sz",), first_band_filter=FIRST_BAND_ARRAY_FILTER,
    )
    return _score_pairs(
        _candidate_overlaps(cands, shingles(df), ["a", "b", "sz_a", "sz_b"]), threshold
    )


SIMHASH_BITS = 60  # keep within signed-64 positive range for portability


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash over lower-cased words (Charikar 2002 construction).

    Per-bit aggregate is ``sum((h >> b) & 1)`` + one word count rather than
    the textbook ±1 CASE sum: sign(Σ±1) > 0 ⟺ 2·popcount_b > n, bit-
    identical on ties (Σ±1 = 0 ⟺ 2c = n, both yield 0), and the 60
    branch-free bit-extract aggregates compile ~3× faster than 60 CASE
    aggregates (the whole cold-query cost at sandbox scale is codegen)."""
    w = df.select(
        F.col(ID_COL).alias("doc"),
        F.explode(F.expr(f"split(lower({TEXT_COL}), ' ')")).alias("word"),
    ).withColumn("h", F.expr(hash32("word", seed="sh")))
    bit_sums = w.groupBy("doc").agg(
        F.count("*").alias("nw"),
        *[F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"c{b}") for b in range(SIMHASH_BITS)],
    )
    fp = bit_sums.select(
        "doc",
        sum(
            [
                F.expr(f"CASE WHEN 2 * c{b} > nw THEN CAST({1 << b} AS BIGINT) ELSE 0 END")
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return fp


def bit_bands(
    sig: DataFrame, sig_col: str, width: int, combos: list[tuple[int, ...]]
) -> DataFrame:
    """(doc, <sig_col>, band, val) banded rows over a packed-bit signature:
    band i's key packs the ``width``-bit slices of ``sig_col`` named by
    ``combos[i]`` (slice c = bits c·width … (c+1)·width − 1). One-slice
    combos are plain bit-slice banding (SimHash chunks, RHP bands); larger
    combos are the multi-index construction ``simhash_pairs`` uses for wide
    radii. The only place a packed signature becomes band keys."""
    mask = (1 << width) - 1

    def piece(c: int, j: int) -> str:
        s = f"(({sig_col} >> {c * width}) & {mask})"
        return f"({s} << {j * width})" if j else s

    return sig.select(
        "doc",
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(" + ".join(piece(c, j) for j, c in enumerate(combo))).alias("val"),
                    )
                    for i, combo in enumerate(combos)
                ]
            )
        ).alias("bk"),
    ).select("doc", sig_col, "bk.band", "bk.val")


def bit_band_pairs(
    sig: DataFrame,
    sig_col: str,
    width: int,
    combos: list[tuple[int, ...]],
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs (a < b, <sig_col>_a, <sig_col>_b) of docs sharing any
    ``bit_bands`` band. ``max_bucket`` = hot-bucket guard (see
    ``banded_pair_join``), refining on the carried signature. Unguarded, a
    pair is kept only in its FIRST matching band — band i matches iff the
    XOR of the two signatures is zero on every slice of combo i, a pure
    function of the carried signatures — so no pair DISTINCT is shuffled."""
    mask = (1 << width) - 1
    first = " ".join(
        "WHEN ("
        + " AND ".join(
            f"(((x.{sig_col} ^ y.{sig_col}) >> {c * width}) & {mask}) = 0" for c in combo
        )
        + f") THEN {i}"
        for i, combo in enumerate(combos)
    )
    return banded_pair_join(
        bit_bands(sig, sig_col, width, combos),
        ["band", "val"],
        max_bucket,
        payload=(sig_col,),
        first_band_filter=None if max_bucket is not None else f"band = (CASE {first} END)",
    )


def simhash_candidates(fp: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Raw SimHash banding candidates (a < b): docs sharing any exact one of
    ``SIMHASH_CHUNKS`` chunks. Feed these to a verifier (e.g. jaccard_pairs)
    — the cross-family LSH plan. ``max_bucket`` = hot-bucket guard (see
    ``banded_pair_join``)."""
    return bit_band_pairs(
        fp,
        "simhash",
        SIMHASH_BITS // SIMHASH_CHUNKS,
        [(c,) for c in range(SIMHASH_CHUNKS)],
        max_bucket,
    ).select("a", "b")


def simhash_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    combo_size: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance via pigeonhole banding.

    Generalized pigeonhole (the HmSearch/multi-index construction): ≤ r
    differing bits touch ≤ r of the ``chunks`` chunks, so ≥ chunks − r
    chunks agree exactly — banding on every C(chunks, q) chunk combination
    with 1 ≤ q ≤ chunks − r (``combo_size``, default chunks − r) has recall
    1 by construction, and candidates come from equi-joins on band values,
    never an all-pairs cross join. q = 1 is single-chunk banding; a larger
    q gives each band key q × width bits of selectivity, so radius 8 over
    60 bits runs with 10 chunks / q=2 / 45 bands on 12-bit keys instead of
    drowning in 6-bit single-chunk buckets (banded-row cost C(chunks, q) ×
    corpus — a documented space/selectivity trade). The guarantee is
    enforced: parameterizations that could silently drop in-radius pairs
    raise instead of advertising semantics they can't keep.
    ``simhash_recall`` / ``simhash_wide_recall`` in the query suite verify
    recall == 1.0 vs the brute-force baseline.
    """
    if chunks <= max_hamming:
        raise ValueError(
            f"pigeonhole banding needs chunks > max_hamming "
            f"(got chunks={chunks}, max_hamming={max_hamming}): a pair at "
            f"distance {chunks}..{max_hamming} can differ in all {chunks} "
            f"chunks and would be silently missed"
        )
    if combo_size is None:
        combo_size = chunks - max_hamming
    if combo_size < 1 or combo_size > chunks - max_hamming:
        raise ValueError(
            f"combination pigeonhole needs 1 <= combo_size <= chunks - max_hamming "
            f"(got combo_size={combo_size}, chunks={chunks}, max_hamming={max_hamming}): "
            f"a pair at distance {max_hamming} may agree on only {chunks - max_hamming} "
            f"chunks, so larger combos can miss it"
        )
    if SIMHASH_BITS % chunks != 0:
        raise ValueError(
            f"chunks={chunks} must divide {SIMHASH_BITS} bits — a remainder "
            f"leaves high bits outside every band (silent recall hole)"
        )
    pairs = bit_band_pairs(
        fp,
        "simhash",
        SIMHASH_BITS // chunks,
        list(combinations(range(chunks), combo_size)),
        max_bucket,
    )
    return pairs.select(
        "a",
        "b",
        F.bit_count(F.expr("simhash_a ^ simhash_b")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(pairs: DataFrame, all_docs: DataFrame | None = None) -> DataFrame:
    """(doc, component) labeling over near-dup ``pairs`` (columns a, b):
    component = smallest doc id reachable — the dedup MATERIALIZATION step
    (keep one doc per component = the surviving corpus), which the pair
    generators alone don't give you.

    Min-label propagation: each round every node takes the min of its own
    label and its neighbors' labels; converges in O(component diameter)
    rounds, and near-dup components are dense (every member within radius
    of a shared template), so diameter is small in practice —
    ``MAX_CC_ITERS`` is a safety bound, convergence is checked per round. Per-round lineage
    is cut with ``localCheckpoint`` (the standard iterative-DataFrame shape;
    without it the plan doubles every round). All shuffles are keyed
    equi-joins on doc ids; the driver coordinates rounds but never holds
    data. ``all_docs`` (one ``doc`` column): include isolated docs as
    their own singleton components, so distinct components == the deduped
    corpus size."""
    # materialize the edge set ONCE — without this, every propagation
    # round's join re-executes the whole upstream pair generation (the
    # expensive LSH banded self-join)
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .localCheckpoint()
    )
    nodes = edges.select("x").distinct()
    if all_docs is not None:
        nodes = nodes.unionByName(all_docs.select(F.col("doc").alias("x"))).distinct()
    labels = nodes.select("x", F.col("x").alias("comp")).localCheckpoint()
    converged = False
    for _ in range(MAX_CC_ITERS):
        neighbor_min = (
            edges.join(
                labels.select(F.col("x").alias("y"), F.col("comp").alias("ncomp")), "y"
            )
            .groupBy("x")
            .agg(F.min("ncomp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "x", "left")
            .select(
                "x",
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "x")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning silently would split real components (non-minimal
        # labels) and inflate the deduped corpus size
        raise RuntimeError(
            f"connected_components did not converge within {MAX_CC_ITERS} rounds "
            f"(a component with diameter > {MAX_CC_ITERS} exists; raise MAX_CC_ITERS)"
        )
    return labels.select(F.col("x").alias("doc"), F.col("comp").alias("component"))


def simhash_bruteforce_pairs(fp: DataFrame, max_hamming: int = 3) -> DataFrame:
    """All pairs within Hamming ≤ ``max_hamming`` by a full self-join — the
    recall BASELINE for the ``simhash_recall`` check at test scale only
    (quadratic in corpus size; the scale path is ``simhash_pairs``)."""
    return (
        fp.alias("x")
        .join(fp.alias("y"), F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("a"),
            F.col("y.doc").alias("b"),
            F.bit_count(F.expr("x.simhash ^ y.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
