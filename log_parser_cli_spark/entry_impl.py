"""Implementations behind __spark_entry__.py: queries + DuckDB oracle SQL.

Every operator family from SURVEY.md §2 gets a (Spark callable, ANSI-SQL
oracle) pair; the driver cross-checks them at sf0.01 (row count + schema +
order-insensitive value hash). Column names/types are aligned on both sides;
all floats are rounded identically before comparison.

Driver tables (region..embeddings) are read from the given sf_dir; the token
pipeline runs on this repo's deterministic fixtures (datagen.py), which the
oracle SQL reads by absolute path — DuckDB sees the same parquet bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_parser_cli_spark.datagen import GEN_VERSION, ensure_fixtures, fixtures_for_sf_dir
from log_parser_cli_spark.extras.dedup import MINHASH_BANDS, MINHASH_HASHES, SIMHASH_BITS, SIMHASH_CHUNKS
from log_parser_cli_spark.plans.checkpoint import source_digest
from log_parser_cli_spark.plans.pipeline import (
    UNPARSED,
    discover_templates,
    enrich_stage,
    extend_mapping,
    load_dims,
    read_mapping,
    read_parsed,
    read_routed,
    read_sequences,
    run_pipeline,
)

# Names bench.py's frozen ``_mapping-v{N}`` discovery cache; data/runs dirs
# are keyed on the engine source itself (``source_digest``).
ENGINE_VERSION = 8  # v8: streaming template library (out/mapping) is a SnapshotTable; v7: salt_share + per-template salt

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _runs_base() -> str:
    return os.path.join(_REPO_ROOT, "data", "runs")


def _run_dir(sf_dir: str, kind: str = "") -> str:
    """Cached run dir for one sf and run kind, keyed on the engine source and
    the fixture-generator version so a code change never reuses stale output."""
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    tag = f"-{kind}" if kind else ""
    return os.path.join(
        _runs_base(), f"{sf_name}{tag}-v{ENGINE_VERSION}.{GEN_VERSION}-{source_digest()}"
    )


def pipeline_out_for(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run (or reuse) the full pipeline for this sf; returns (out_dir, fixture_dir)."""
    fixture_dir = fixtures_for_sf_dir(sf_dir)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    out_dir = _run_dir(sf_dir)
    run_pipeline(spark, fixture_dir, out_dir, run_id=f"entry-{sf_name}", resume=True)
    return out_dir, fixture_dir


def _tbl(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _fx(name: str) -> str:
    """Absolute fixture parquet path for oracle SQL (driver compares at sf0.01)."""
    return os.path.join(ensure_fixtures("sf0.01"), f"{name}.parquet")


# ---------------------------------------------------------------------------
# Pipeline queries (token-table fixtures)
# ---------------------------------------------------------------------------


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = pipeline_out_for(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(out, "sink_counts"))
        .groupBy("source", "template_star")
        .agg(F.sum("n_sequences").cast("long").alias("n_sequences"))
    )


def q_pipeline_route_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, fx = pipeline_out_for(spark, sf_dir)
    routed = read_routed(spark, out).select(
        "doc_id", F.col("tokens").alias("routed_tokens")
    )
    seq = read_sequences(spark, fx).select("doc_id", "tokens")
    return routed.join(seq, "doc_id", "full").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.when(
                F.col("tokens").isNull()
                | F.col("routed_tokens").isNull()
                | (F.col("tokens") != F.col("routed_tokens")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_token_mismatch"),
    )


def q_pipeline_ntok_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = pipeline_out_for(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(out, "ntok_hist"))
        .groupBy("source", F.col("n_tok").cast("long").alias("n_tok"))
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def q_pipeline_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = pipeline_out_for(spark, sf_dir)
    routed = read_routed(spark, out)
    return (
        routed.withColumn(
            "var_chars",
            F.length(
                F.array_join(
                    F.expr("transform(sequence(1, n_vars), i -> variables[concat('v', i)])"),
                    "|",
                )
            ),
        )
        .groupBy("source", "template_star")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("n_vars").cast("long").alias("total_vars"),
            F.sum(F.coalesce("var_chars", F.lit(0))).cast("long").alias("total_var_chars"),
        )
    )


def q_match_regex_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.operators.matcher import match_templates
    from log_parser_cli_spark.operators.parse import parse_stage
    from log_parser_cli_spark.oracle import load_fixture_table

    fx = fixtures_for_sf_dir(sf_dir)
    vocab_rows, source_heads, _ = load_dims(spark, fx)
    seq = read_sequences(spark, fx)
    parsed = parse_stage(spark, seq, vocab_rows, source_heads)
    # mapInPandas ships every input column through the Python boundary
    # (Spark cannot prune through an opaque function — guide §4.1); this
    # aggregate needs only these three, so don't ship tokens/doc_id/sig
    parsed = parsed.select("source", "content", "head_matched")
    matched = match_templates(spark, parsed, load_fixture_table(fx, "templates"))
    return matched.groupBy(
        "source",
        F.coalesce(
            "template_id",
            F.when(~F.col("head_matched"), F.lit("__UNPARSED__")).otherwise(
                F.lit("__UNMATCHED__")
            ),
        ).alias("template_id"),
    ).agg(F.count("*").cast("long").alias("n_rows"))


def q_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.operators.parse import parse_stage

    fx = fixtures_for_sf_dir(sf_dir)
    vocab_rows, source_heads, _ = load_dims(spark, fx)
    seq = read_sequences(spark, fx)
    parsed = parse_stage(spark, seq, vocab_rows, source_heads)
    return parsed.groupBy("source", "head_matched").agg(
        F.count("*").cast("long").alias("n_rows")
    )


def _derive_heads_from_gt(gt_path: str) -> dict[str, str]:
    """Pure-python head derivation from a ground-truth parquet (the oracle
    twin of q_head_derive's driver-side loop — identical pools → identical
    patterns)."""
    import pyarrow.parquet as pq

    from log_parser_cli_spark.operators.head_derive import derive_heads

    tbl = pq.read_table(gt_path, columns=["source", "line_no", "rendered"])
    rows = sorted(
        zip(tbl["source"].to_pylist(), tbl["line_no"].to_pylist(), tbl["rendered"].to_pylist()),
        key=lambda r: r[1],
    )
    per_source: dict[str, list[tuple]] = {}
    for src, ln, rendered in rows:
        per_source.setdefault(src, []).append((ln, rendered))
    return {s: p for s, p in derive_heads(per_source).items() if p}


def q_head_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic head-pattern derivation + refine (manager.ts:83-186 minus
    the LLM): stride pools per source → driver-side keep-best refine loop →
    distributed coverage validation of the final pattern (P5) through
    ``match_templates``, the derived heads as a per-source library (each is
    ``^… (?P<content>.*)$``, so a full-line match is the oracle's search).
    Sources whose derivation fails are omitted (matching the oracle twin's
    filter)."""
    from log_parser_cli_spark.operators.head_derive import derive_heads, stride_pool_collect
    from log_parser_cli_spark.operators.matcher import match_templates

    fx = fixtures_for_sf_dir(sf_dir)
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet")).select(
        "source", "line_no", "rendered"
    )
    pools = stride_pool_collect(gt, "source", "line_no", ["rendered"])
    patterns = {s: p for s, p in derive_heads(pools).items() if p}
    library = [dict(template_id=s, source=s, pattern=p, created_at=0) for s, p in patterns.items()]
    pattern_col = F.lit(None).cast("string")
    for src, pat in patterns.items():
        pattern_col = F.when(F.col("source") == src, F.lit(pat)).otherwise(pattern_col)
    lines = gt.filter(F.col("source").isin(list(patterns))).select("source", F.col("rendered").alias("content"))
    return (
        match_templates(spark, lines, library)
        .groupBy("source", pattern_col.alias("pattern"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count("template_id").cast("long").alias("n_matched"),
        )
    )


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.eval.metrics import accuracy_metrics

    fx = fixtures_for_sf_dir(sf_dir)
    labels = spark.read.parquet(os.path.join(fx, "labels.parquet"))
    return _metrics_row(spark, accuracy_metrics(labels))


def _metrics_row(spark: SparkSession, m: dict[str, float]) -> DataFrame:
    """One published metrics row, rounded HALF_UP by Spark like every other
    published metric row (Python round() is banker's rounding)."""
    from log_parser_cli_spark.eval.metrics import METRIC_COLS

    raw = spark.createDataFrame(
        [tuple(m[k] for k in METRIC_COLS)], ", ".join(f"{c} double" for c in METRIC_COLS)
    )
    return raw.select(*[F.round(c, 6).alias(c.lower()) for c in METRIC_COLS])


def q_eval_from_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end eval harness (run-eval.js:306-417): report FILES → FIFO
    occurrence alignment → per-dataset GA/PA/purity/friendly + coverage +
    __MACRO__ averages. Reports are materialized from the perturbed labels
    fixture (the eval corpus analog) and read back from disk."""
    from log_parser_cli_spark.eval.harness import eval_from_reports, write_eval_reports

    fx = fixtures_for_sf_dir(sf_dir)
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet")).select(
        "line_no", "source", "rendered", "event_id"
    )
    report_dir = _run_dir(sf_dir, "reports")
    # reuse the cached reports only when BOTH sinks committed — a crash
    # between the matches and failures writes must trigger regeneration, not
    # silently undercount failures (ADVICE)
    if not all(
        os.path.exists(os.path.join(report_dir, sink, "_SUCCESS"))
        for sink in ("matches_csv", "failures_jsonl")
    ):
        labels = spark.read.parquet(os.path.join(fx, "labels.parquet"))
        labeled = labels.join(gt, "line_no").select(
            "line_no", "source", "rendered", "pred_id"
        )
        write_eval_reports(spark, labeled, report_dir)
    return eval_from_reports(spark, report_dir, gt)


def q_alignment_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/J5: FIFO occurrence numbering of duplicate rendered lines."""
    fx = fixtures_for_sf_dir(sf_dir)
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet"))
    w = Window.partitionBy("rendered").orderBy("line_no")
    return (
        gt.withColumn("occurrence_no", F.row_number().over(w))
        .groupBy(F.col("occurrence_no").cast("long").alias("occurrence_no"))
        .agg(F.count("*").cast("long").alias("n_lines"))
    )


def q_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W2: keep the newest 100 rows per source (match-store cap)."""
    fx = fixtures_for_sf_dir(sf_dir)
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet"))
    w = Window.partitionBy("source").orderBy(F.desc("line_no"))
    return (
        gt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.min("line_no").cast("long").alias("oldest_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data extras (driver tables: documents / embeddings / events / orders)
# ---------------------------------------------------------------------------


CONFLICT_CANDIDATE = ("apache#candidate", r"^workers (?P<v1>[A-Za-z0-9_/-]+) configured successfully$")


def q_template_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: an overbroad candidate pattern vs stored samples of other templates."""
    from log_parser_cli_spark.plans.library_ops import SAMPLES_PER_TEMPLATE, detect_conflicts

    fx = fixtures_for_sf_dir(sf_dir)
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet"))
    w = Window.partitionBy("event_id").orderBy("line_no")
    samples = (
        gt.filter(F.col("head_matched"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= SAMPLES_PER_TEMPLATE)
        .select(F.col("event_id").alias("template_id"), "content")
    )
    cid, pattern = CONFLICT_CANDIDATE
    return detect_conflicts(samples, cid, pattern).select(
        "template_id", F.col("n_conflicts").cast("long").alias("n_conflicts")
    )


def q_pipeline_eval_vs_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end clustering-accuracy gate: the pipeline's template assignment
    scored against ground truth must be PERFECT (GA/PA/purity all 1.0 — label
    names differ, clustering metrics are label-invariant)."""
    from log_parser_cli_spark.eval.metrics import accuracy_metrics

    out, fx = pipeline_out_for(spark, sf_dir)
    routed = read_routed(spark, out).select(
        "doc_id", F.col("template_id").alias("pred_id")
    )
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet")).select(
        "doc_id", F.col("event_id").alias("gt_id")
    )
    return _metrics_row(spark, accuracy_metrics(routed.join(gt, "doc_id")))


def q_derived_library_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library-export consistency theorem: convert the discovered Drain
    mapping into the reference's ⟪⟫-regex template library
    (plans/export.py), re-match the corpus with THOSE regexes (J2 path), and
    the per-(source, star) counts must equal ground truth — i.e. the regex
    artifact a reference user exports is interchangeable with the signature
    pipeline."""
    from log_parser_cli_spark.operators.matcher import match_templates
    from log_parser_cli_spark.plans.export import export_template_library

    out, fx = pipeline_out_for(spark, sf_dir)
    _vocab_rows, _source_heads, sinks = load_dims(spark, fx)
    # the pipeline run just checkpointed the parsed stream — reuse it instead
    # of re-running the mapInArrow parse (twice, since the returned plan is
    # evaluated by the caller after this function exits)
    parsed = read_parsed(spark, fx, os.path.join(out, "parsed"))
    mapping = read_mapping(spark, os.path.join(out, "template_mapping"))
    enriched = enrich_stage(parsed, mapping, sinks)
    library = export_template_library(spark, enriched)
    star_of = {t["template_id"]: t["template_star"] for t in library}
    matched = match_templates(spark, parsed, library)
    star_map = F.create_map(*[F.lit(x) for kv in star_of.items() for x in kv])
    return (
        matched.withColumn(
            "template_star",
            F.when(~F.col("head_matched"), F.lit("")).otherwise(
                F.coalesce(star_map[F.col("template_id")], F.lit("__UNMATCHED__"))
            ),
        )
        .groupBy("source", "template_star")
        .agg(F.count("*").cast("long").alias("n_sequences"))
    )


def q_library_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: MERGE-style template upsert — replace every even-ordinal template
    with a bumped created_at, add one new template per source, verify the
    merged library's per-source counts and created_at sums."""
    from log_parser_cli_spark.plans.library_ops import merge_templates

    fx = fixtures_for_sf_dir(sf_dir)
    templates = spark.read.parquet(os.path.join(fx, "templates.parquet")).select(
        "template_id", "source", "created_at"
    )
    updates = (
        templates.filter(F.col("created_at") % 2 == 0)
        .withColumn("created_at", F.col("created_at") + 100)
        .unionByName(
            templates.groupBy("source").agg(
                (F.max("created_at") + 1).alias("created_at")
            ).select(
                F.concat("source", F.lit("#new")).alias("template_id"),
                "source",
                "created_at",
            )
        )
    )
    merged = merge_templates(templates, updates)
    return merged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_templates"),
        F.sum("created_at").cast("long").alias("sum_created"),
    )


def q_orphan_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3: delete two templates, re-queue their rows into pending,
    exclude already-seen contents — per-source kept/pending counts."""
    from log_parser_cli_spark.plans.library_ops import exclude_seen, requeue_orphans

    fx = fixtures_for_sf_dir(sf_dir)
    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet"))
    matches = gt.filter(F.col("head_matched")).select(
        "doc_id", "source", "content", F.col("event_id").alias("template_id")
    )
    deleted = ["apache#1", "hdfs#2"]
    kept, pending = requeue_orphans(matches.withColumn("variables", F.lit(None).cast("string")), deleted)
    # seen-sample exclusion: drop pending rows whose content appeared among
    # the first 100 kept lines (E3 semantics)
    seen = kept.orderBy("doc_id").limit(100).select("content")
    fresh = exclude_seen(pending, seen)
    kept_counts = kept.groupBy("source").agg(F.count("*").cast("long").alias("n_kept"))
    fresh_counts = fresh.groupBy("source").agg(F.count("*").cast("long").alias("n_pending"))
    return kept_counts.join(fresh_counts, "source", "full").select(
        "source",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("n_pending", F.lit(0)).cast("long").alias("n_pending"),
    )


def q_mapping_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/missing#3: incremental library evolution across two batches.

    Discovery runs on batch 1 only (even doc ordinals); batch 2 extends the
    FROZEN batch-1 mapping (ids stable, novel signatures appended / mapped to
    star-compatible clusters). Scoring the full corpus with the extended
    mapping must reproduce the ground-truth clustering exactly — the oracle is
    the same GT per-(source, template_star) count as pipeline_sink_counts.
    """
    from log_parser_cli_spark.operators.parse import parse_stage

    fx = fixtures_for_sf_dir(sf_dir)
    vocab_rows, source_heads, _ = load_dims(spark, fx)
    seq = read_sequences(spark, fx)
    parsed = parse_stage(spark, seq, vocab_rows, source_heads).persist()
    try:
        ordinal = F.substring("doc_id", 5, 9).cast("long")
        mapping1 = discover_templates(spark, parsed.filter(ordinal % 2 == 0))
        mapping2 = extend_mapping(spark, mapping1, parsed.filter(ordinal % 2 == 1))
        return (
            parsed.join(F.broadcast(mapping2), ["source", "content_sig"], "left")
            .withColumn(
                "template_star",
                F.when(~F.col("head_matched"), F.lit("")).otherwise(
                    F.coalesce("template_star", F.lit(UNPARSED))
                ),
            )
            .groupBy("source", "template_star")
            .agg(F.count("*").cast("long").alias("n_sequences"))
        )
    finally:
        parsed.unpersist()


# Overbroad seed for the refine-machine gate: created_at=0 gives it top
# precedence, so it initially owns EVERY apache signature; integrating the
# real Drain candidates must conflict against its stored samples, delete it,
# and re-queue its rows (pipeline.ts:355-451,561-612).
REFINE_SEED = {
    "template_id": "apache#0seed",
    "source": "apache",
    "pattern": r"(?P<v1>.*)",
    "created_at": 0,
    "template_star": "<*>",
}


def q_pipeline_with_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline with the conflict→delete→requeue machine wired in
    (run_pipeline(refine=True) / CLI --refine): an injected overbroad seed
    template ends up deleted and the final per-(source, star) clustering still
    equals ground truth exactly — the refine machine recovers from a poisoned
    carried-over library without help."""
    fx = fixtures_for_sf_dir(sf_dir)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    out_dir = _run_dir(sf_dir, "refine")
    run_pipeline(
        spark,
        fx,
        out_dir,
        run_id=f"refine-{sf_name}",
        resume=True,
        refine=True,
        seed_library=[dict(REFINE_SEED)],
    )
    return (
        spark.read.parquet(os.path.join(out_dir, "sink_counts"))
        .groupBy("source", "template_star")
        .agg(F.sum("n_sequences").cast("long").alias("n_sequences"))
    )


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.dedup import exact_dup_stats

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    return exact_dup_stats(docs)


def q_dedup_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family LSH plan: SimHash chunk-band candidates → exact n-gram
    Jaccard verify. No candidate-free shingle self-join anywhere — the
    quadratic-in-group-size path is gone at every scale."""
    from log_parser_cli_spark.extras.dedup import jaccard_pairs, simhash, simhash_candidates

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    cands = simhash_candidates(simhash(docs))
    return jaccard_pairs(docs, threshold=0.3, candidates=cands).select(
        F.col("a").cast("long"), F.col("b").cast("long"), "jaccard"
    )


def q_dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.dedup import minhash_dedup

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    return minhash_dedup(docs, threshold=0.3).select(
        F.col("a").cast("long"), F.col("b").cast("long"), "jaccard"
    )


# Pigeonhole-sound parameterization: chunks (SIMHASH_CHUNKS = 4, the chunks
# simhash_candidates bands on) > max_hamming (3), so EVERY pair within the
# advertised radius shares ≥1 exact chunk (simhash_pairs enforces this;
# simhash_recall proves recall == 1.0 vs brute force).
SIMHASH_MAX_HAMMING = 3


def q_dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.dedup import simhash, simhash_pairs

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    fp = simhash(docs)
    return simhash_pairs(fp, max_hamming=SIMHASH_MAX_HAMMING, chunks=SIMHASH_CHUNKS).select(
        F.col("a").cast("long"), F.col("b").cast("long"), F.col("hamming").cast("long")
    )


def q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-recall gate: chunk banding must reproduce EVERY brute-force
    pair at the advertised radius — recall exactly 1.0, a hard guarantee
    (contrast ann_ivf_recall's approximate 0.9). The brute-force side is the
    test-scale baseline only; the scale path is the banded query."""
    from log_parser_cli_spark.extras.dedup import (
        simhash,
        simhash_bruteforce_pairs,
        simhash_pairs,
    )

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    fp = simhash(docs)
    banded = simhash_pairs(fp, max_hamming=SIMHASH_MAX_HAMMING, chunks=SIMHASH_CHUNKS).select("a", "b")
    brute = simhash_bruteforce_pairs(fp, SIMHASH_MAX_HAMMING).select("a", "b")
    return (
        brute.agg(F.count("*").alias("n_pairs_exact"))
        .crossJoin(banded.agg(F.count("*").alias("n_pairs_banded")))
        .crossJoin(banded.join(brute, ["a", "b"]).agg(F.count("*").alias("n_hit")))
        .select(
            F.col("n_pairs_exact").cast("long").alias("n_pairs_exact"),
            F.col("n_pairs_banded").cast("long").alias("n_pairs_banded"),
            F.round(F.col("n_hit") / F.col("n_pairs_exact"), 6).alias("recall"),
        )
    )


# Hot-bucket guard probe: the sf0.01 chunk banding has real degenerate
# buckets (500- and 387-doc chunks), so a cap of 64 exercises the star path
# ON THE DRIVER GATE — the guard's semantics are hash-checked against a SQL
# twin of the star construction, not just pytest-asserted.
SIMHASH_CAP_BUCKET = 64


def q_dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_pairs with the hot-bucket guard ACTIVE: buckets over
    SIMHASH_CAP_BUCKET emit the TWO-LEVEL star (identical-fingerprint
    members → their group min at distance 0, group minima → bucket min)
    instead of all C(m,2) pairs — the 100 TB shape for boilerplate-heavy
    corpora. Exact pair semantics hold for every bucket ≤ cap; capped
    buckets are reported by the companion ``simhash_hot_buckets`` query."""
    from log_parser_cli_spark.extras.dedup import simhash, simhash_pairs

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    fp = simhash(docs)
    return simhash_pairs(
        fp,
        max_hamming=SIMHASH_MAX_HAMMING,
        chunks=SIMHASH_CHUNKS,
        max_bucket=SIMHASH_CAP_BUCKET,
    ).select(F.col("a").cast("long"), F.col("b").cast("long"), F.col("hamming").cast("long"))


def q_simhash_hot_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-silent-caps REPORT for the guarded query: how many buckets were
    capped, the largest, and how many banded rows sit in them."""
    from log_parser_cli_spark.extras.dedup import SIMHASH_BITS, bit_bands, hot_bucket_stats, simhash

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    banded = bit_bands(
        simhash(docs),
        "simhash",
        SIMHASH_BITS // SIMHASH_CHUNKS,
        [(c,) for c in range(SIMHASH_CHUNKS)],
    )
    stats = hot_bucket_stats(banded, ["band", "val"], SIMHASH_CAP_BUCKET)
    return stats.agg(
        F.count("*").cast("long").alias("n_hot_buckets"),
        F.coalesce(F.max("n_docs"), F.lit(0)).cast("long").alias("max_bucket_docs"),
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs_in_hot"),
    )


# Wide-radius probe (combination pigeonhole): radius 8 over 60 bits with 10
# chunks of 6 bits, banding every C(10, 2)=45 chunk PAIR (12-bit keys) — a
# pair at distance ≤ 8 agrees on ≥ 2 chunks, so some pair-combination
# matches exactly; simhash_wide_recall proves recall == 1.0 vs brute force.
SIMHASH_WIDE_HAMMING = 8
SIMHASH_WIDE_CHUNKS = 10
SIMHASH_WIDE_COMBO = 2


def q_dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.dedup import simhash, simhash_pairs

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    fp = simhash(docs)
    return simhash_pairs(
        fp,
        max_hamming=SIMHASH_WIDE_HAMMING,
        chunks=SIMHASH_WIDE_CHUNKS,
        combo_size=SIMHASH_WIDE_COMBO,
    ).select(F.col("a").cast("long"), F.col("b").cast("long"), F.col("hamming").cast("long"))


def q_simhash_wide_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combination-pigeonhole recall gate at radius 8 — exactly 1.0, the same
    hard guarantee simhash_recall gives radius 3 (round-2 advertised radius 8
    without the guarantee; this restores the radius WITH it)."""
    from log_parser_cli_spark.extras.dedup import (
        simhash,
        simhash_bruteforce_pairs,
        simhash_pairs,
    )

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    fp = simhash(docs)
    banded = simhash_pairs(
        fp,
        max_hamming=SIMHASH_WIDE_HAMMING,
        chunks=SIMHASH_WIDE_CHUNKS,
        combo_size=SIMHASH_WIDE_COMBO,
    ).select("a", "b")
    brute = simhash_bruteforce_pairs(fp, SIMHASH_WIDE_HAMMING).select("a", "b")
    return (
        brute.agg(F.count("*").alias("n_pairs_exact"))
        .crossJoin(banded.agg(F.count("*").alias("n_pairs_banded")))
        .crossJoin(banded.join(brute, ["a", "b"]).agg(F.count("*").alias("n_hit")))
        .select(
            F.col("n_pairs_exact").cast("long").alias("n_pairs_exact"),
            F.col("n_pairs_banded").cast("long").alias("n_pairs_banded"),
            F.round(F.col("n_hit") / F.col("n_pairs_exact"), 6).alias("recall"),
        )
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.similarity import cosine_topk

    emb = spark.read.parquet(_tbl(sf_dir, "embeddings"))
    return cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10)


ANN_QUERY_IDS = [0, 1, 2, 3, 4]
IVF_CENTROIDS = 16
IVF_NPROBE = 5  # recall@10 = 0.90 on the synthetic corpus at 31% scan fraction


def _ivf_centroids_for(sf_dir: str) -> list[list[float]]:
    from log_parser_cli_spark.extras.similarity import centroids_from_parquet

    return centroids_from_parquet(_tbl(sf_dir, "embeddings"), k=IVF_CENTROIDS)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with deterministic k-means centroids (Lloyd, first-k init) —
    the bucketed probe scans ~nprobe/n_centroids of the corpus."""
    from log_parser_cli_spark.extras.similarity import ivf_topk

    emb = spark.read.parquet(_tbl(sf_dir, "embeddings"))
    return ivf_topk(
        emb, ANN_QUERY_IDS, k=10, centroids=_ivf_centroids_for(sf_dir), nprobe=IVF_NPROBE
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF probe vs the exact brute-force ranking."""
    from log_parser_cli_spark.extras.similarity import cosine_topk, ivf_topk, topk_recall

    emb = spark.read.parquet(_tbl(sf_dir, "embeddings"))
    approx = ivf_topk(
        emb, ANN_QUERY_IDS, k=10, centroids=_ivf_centroids_for(sf_dir), nprobe=IVF_NPROBE
    )
    exact = cosine_topk(emb, ANN_QUERY_IDS, k=10)
    return topk_recall(approx, exact, k=10)


RHP_PLANES = 60
RHP_ROWS_PER_BAND = 3
RHP_THRESHOLD = 0.4


def _embedding_dim(sf_dir: str) -> int:
    """Vector dimensionality read from the parquet file's first row on the
    driver — every row has the same dim, and this avoids spending a whole
    Spark job (executeTake + scan task) on one metadata scalar."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(_tbl(sf_dir, "embeddings"))
    batch = next(f.iter_batches(batch_size=1, columns=["embedding"]))
    return len(batch.column(0)[0])


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH candidates → exact cosine verify (no
    corpus×corpus join; candidate shuffles are keyed on band buckets)."""
    from log_parser_cli_spark.extras.similarity import cosine_pairs, rhp_candidates

    emb = spark.read.parquet(_tbl(sf_dir, "embeddings"))
    dim = _embedding_dim(sf_dir)
    cands = rhp_candidates(emb, dim=dim, n_planes=RHP_PLANES, rows_per_band=RHP_ROWS_PER_BAND)
    return cosine_pairs(emb, threshold=RHP_THRESHOLD, candidates=cands)


def q_rhp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the hyperplane-LSH plan vs brute-force all-pairs
    cosine at the same threshold (the ann_ivf_recall pattern for
    embedding_dedup). Measured 1.0 at 60 planes / 3 rows-per-band on the
    synthetic corpus; the brute-force side is test-scale only."""
    from log_parser_cli_spark.extras.similarity import cosine_pairs, rhp_candidates

    emb = spark.read.parquet(_tbl(sf_dir, "embeddings"))
    dim = _embedding_dim(sf_dir)
    cands = rhp_candidates(emb, dim=dim, n_planes=RHP_PLANES, rows_per_band=RHP_ROWS_PER_BAND)
    lsh = cosine_pairs(emb, threshold=RHP_THRESHOLD, candidates=cands).select("a", "b")
    exact = cosine_pairs(emb, threshold=RHP_THRESHOLD).select("a", "b")
    return (
        exact.agg(F.count("*").alias("n_pairs_exact"))
        .crossJoin(lsh.agg(F.count("*").alias("n_pairs_lsh")))
        .crossJoin(lsh.join(exact, ["a", "b"]).agg(F.count("*").alias("n_hit")))
        .select(
            F.col("n_pairs_exact").cast("long").alias("n_pairs_exact"),
            F.col("n_pairs_lsh").cast("long").alias("n_pairs_lsh"),
            F.round(F.col("n_hit") / F.col("n_pairs_exact"), 6).alias("recall"),
        )
    )


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.textstats import token_count

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count()).cast("long").alias("n_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.textstats import quality_score

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    return docs.withColumn("q", quality_score()).groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
    )


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.textstats import lang_id

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    return lang_id(docs).groupBy("lang_guess").agg(F.count("*").cast("long").alias("n_docs"))


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_parser_cli_spark.extras.textstats import fingerprint_count

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    return fingerprint_count(docs).select(
        F.col("doc").cast("long").alias("doc_id"), "n_fingerprints"
    )


def q_events_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok-style parse of the events props payload + per-type rollup."""
    ev = spark.read.parquet(_tbl(sf_dir, "events"))
    return (
        ev.withColumn("k", F.regexp_extract("props", r"(\d+)", 1).cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counting: a >30 min gap starts a new session (lag window)."""
    ev = spark.read.parquet(_tbl(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gapped = ev.withColumn(
        "new_session",
        F.when(ts_ms - F.lag(ts_ms).over(w) > 1_800_000, 1).otherwise(0),
    )
    return gapped.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count("*").cast("long").alias("n_events"),
        (F.sum("new_session") + 1).cast("long").alias("n_sessions"),
    )


def q_orders_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup-enrich join (J1 shape) on driver tables."""
    orders = spark.read.parquet(_tbl(sf_dir, "orders"))
    cust = spark.read.parquet(_tbl(sf_dir, "customer"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_source_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing stage (§3.1a; reference routing-agent.ts:34-80 minus the LLM):
    strip every row's source, re-infer it by head-pattern first-match vote in
    sorted source order, count rows per inferred source. The oracle twin
    replays the same decision as a regexp CASE over the ground truth's
    rendered lines — DuckDB's regexps are RE2, the same engine the matcher
    uses, so the vote is bit-reproducible."""
    from log_parser_cli_spark.operators.parse import parse_stage

    fx = fixtures_for_sf_dir(sf_dir)
    vocab_rows, source_heads, _ = load_dims(spark, fx)
    seq = read_sequences(spark, fx).withColumn(
        "source", F.lit(None).cast("string")
    )
    parsed = parse_stage(spark, seq, vocab_rows, source_heads)
    return parsed.groupBy("source").agg(F.count("*").cast("long").alias("n_rows"))


def q_compression_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (reference check-overbroad.js:70-132): per-template gzip
    compression-gain stats over the routed fan-out output (content and vars
    reconstructed from the routed rows, no re-parse). Oracle = pure-Python
    twin over the ground truth — same zlib, same doc_id-ordered 200-row cap —
    inlined as literal rows (the head_derive trick)."""
    from log_parser_cli_spark.extras.overbroad import (
        compression_gain_stats,
        routed_for_overbroad,
    )
    out, _ = pipeline_out_for(spark, sf_dir)
    # discovered template ids have their own numbering — only the
    # (source, template_star) pair is the stable contract vs ground truth
    # (the perfect-clustering gate), so key the stats on the composite
    enriched = routed_for_overbroad(read_routed(spark, out)).withColumn(
        "template_id", F.concat_ws("||", "source", "template_star")
    )
    return compression_gain_stats(enriched)


def q_stream_discovery_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (evolving state) promoted to the driver gate: the corpus streams
    as TWO micro-batches through stream_with_discovery — batch 1 bootstraps
    the library, batch 2 extends it with only its novel signatures — and
    the routed per-(source, template_star) counts must equal the ground
    truth exactly (same contract as mapping_evolution, now through the
    streaming surface with per-batch snapshot commits)."""
    import shutil
    import uuid

    from log_parser_cli_spark.streaming.stream import stream_with_discovery

    fx = fixtures_for_sf_dir(sf_dir)
    base = _run_dir(sf_dir, "sdisc")
    split_dir = os.path.join(base, "stream_src")
    # _SPLIT_OK is written into the temp dir BEFORE the atomic rename, so
    # its presence proves a complete build; a dir without it (e.g. the
    # pre-fix non-atomic writer's half corpus) is rebuilt
    if not os.path.exists(os.path.join(split_dir, "_SPLIT_OK")):
        # format-agnostic 2-way split by md5 parity of the doc id (never
        # doc_id arithmetic — ids may be non-numeric), staged in a temp dir
        # and renamed atomically so a crash between the two writes can't
        # leave a half corpus that looks complete
        seq = read_sequences(spark, fx)
        parity = F.expr("conv(substr(md5(doc_id), 1, 8), 16, 10) % 2")
        tmp = os.path.join(base, f".stream_src.{uuid.uuid4().hex[:8]}")
        seq.filter(parity == 0).coalesce(1).write.mode("overwrite").parquet(tmp)
        seq.filter(parity == 1).coalesce(1).write.mode("append").parquet(tmp)
        with open(os.path.join(tmp, "_SPLIT_OK"), "w") as f:
            f.write("ok")
        os.makedirs(base, exist_ok=True)
        shutil.rmtree(split_dir, ignore_errors=True)
        os.rename(tmp, split_dir)
        # the stream checkpoint tracks processed FILE PATHS — a rebuilt
        # split has new paths, so a kept checkpoint would re-ingest the
        # whole corpus on top of the old routed rows
        shutil.rmtree(os.path.join(base, "out"), ignore_errors=True)
    out = os.path.join(base, "out")
    # ALWAYS start the stream: the checkpoint makes a completed run an
    # availableNow no-op and a half-finished run (crash after batch 1)
    # RESUMES — skipping on is_snapshot_dir would freeze a partial table
    # into the gate forever
    q = stream_with_discovery(spark, fx, split_dir, out, available_now=True)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream_with_discovery did not drain within 600s")
    return (
        read_routed(spark, out)
        .groupBy("source", "template_star")
        .agg(F.count("*").cast("long").alias("n_sequences"))
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup MATERIALIZATION: SimHash near-dup pairs → connected components
    (min-label propagation) → one row per surviving component with its
    member count. Isolated docs are singleton components, so the row count
    IS the deduplicated corpus size. Oracle: DuckDB recursive CTE computing
    min-reachable-id over the same pair set."""
    from log_parser_cli_spark.extras.dedup import (
        connected_components,
        simhash,
        simhash_pairs,
    )

    docs = spark.read.parquet(_tbl(sf_dir, "documents"))
    fp = simhash(docs)
    pairs = simhash_pairs(fp, max_hamming=SIMHASH_MAX_HAMMING, chunks=SIMHASH_CHUNKS)
    comps = connected_components(
        pairs.select("a", "b"), all_docs=docs.select(F.col("doc_id").alias("doc"))
    )
    return comps.groupBy("component").agg(F.count("*").alias("n_docs")).select(
        F.col("component").cast("long"), F.col("n_docs").cast("long")
    )


def q_stream_batch_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T3 batch-equivalence promoted from pytest to the driver gate: the
    Structured Streaming replay's snapshot-committed routed table must equal
    the batch route output row-for-row — same doc_ids, byte-exact token
    arrays, same template_star. The streamed run checkpoints under the runs
    cache, so a repeat is an availableNow no-op. Oracle: the ground truth's
    row count with zero mismatches (any divergence inflates the full-outer
    row count or a mismatch sum)."""
    from log_parser_cli_spark.streaming.stream import stream_replay

    out, fx = pipeline_out_for(spark, sf_dir)
    stream_out = _run_dir(sf_dir, "stream")
    mapping = read_mapping(spark, os.path.join(out, "template_mapping"))
    q = stream_replay(spark, fx, stream_out, mapping, available_now=True)
    if not q.awaitTermination(600):
        # on timeout awaitTermination returns False (no raise) — reading
        # the routed table mid-stream would fail the gate confusingly
        q.stop()
        raise RuntimeError("stream_replay did not drain within 600s")
    streamed = read_routed(spark, stream_out).select(
        "doc_id", F.col("tokens").alias("s_tokens"), F.col("template_star").alias("s_star")
    )
    batch = read_routed(spark, out).select(
        "doc_id", F.col("tokens").alias("b_tokens"), F.col("template_star").alias("b_star")
    )
    j = streamed.join(batch, "doc_id", "full")
    return j.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.when(
                F.col("s_tokens").isNull()
                | F.col("b_tokens").isNull()
                | (F.col("s_tokens") != F.col("b_tokens")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_token_mismatch"),
        F.sum(F.when(~F.col("s_star").eqNullSafe(F.col("b_star")), 1).otherwise(0))
        .cast("long")
        .alias("n_star_mismatch"),
    )


QUERIES = {
    "pipeline_sink_counts": q_pipeline_sink_counts,
    "pipeline_route_equality": q_pipeline_route_equality,
    "pipeline_ntok_hist": q_pipeline_ntok_hist,
    "pipeline_variables": q_pipeline_variables,
    "match_regex_counts": q_match_regex_counts,
    "head_coverage": q_head_coverage,
    "head_derive": q_head_derive,
    "eval_metrics": q_eval_metrics,
    "eval_from_reports": q_eval_from_reports,
    "alignment_occurrences": q_alignment_occurrences,
    "topk_per_source": q_topk_per_source,
    "template_conflicts": q_template_conflicts,
    "pipeline_eval_vs_gt": q_pipeline_eval_vs_gt,
    "derived_library_counts": q_derived_library_counts,
    "library_upsert": q_library_upsert,
    "orphan_requeue": q_orphan_requeue,
    "mapping_evolution": q_mapping_evolution,
    "pipeline_with_refine": q_pipeline_with_refine,
    "dedup_exact_docs": q_dedup_exact_docs,
    "dedup_jaccard_docs": q_dedup_jaccard_docs,
    "dedup_minhash_docs": q_dedup_minhash_docs,
    "dedup_simhash_docs": q_dedup_simhash_docs,
    "simhash_recall": q_simhash_recall,
    "dedup_simhash_capped": q_dedup_simhash_capped,
    "simhash_hot_buckets": q_simhash_hot_buckets,
    "dedup_simhash_wide": q_dedup_simhash_wide,
    "simhash_wide_recall": q_simhash_wide_recall,
    "rhp_recall": q_rhp_recall,
    "ann_topk": q_ann_topk,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_join": q_ann_ivf,
    "ann_ivf_recall": q_ann_ivf_recall,
    "embedding_dedup": q_embedding_dedup,
    "doc_token_stats": q_doc_token_stats,
    "doc_quality": q_doc_quality,
    "doc_lang_id": q_doc_lang_id,
    "doc_fingerprints": q_doc_fingerprints,
    "events_parse": q_events_parse,
    "events_sessionize": q_events_sessionize,
    "orders_enrich": q_orders_enrich,
    "source_routing": q_source_routing,
    "compression_gain": q_compression_gain,
    "stream_batch_equality": q_stream_batch_equality,
    "stream_discovery_equality": q_stream_discovery_equality,
    "dedup_components": q_dedup_components,
}


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect-compatible ANSI SQL)
# ---------------------------------------------------------------------------

H32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"  # == Spark conv(md5)


# word bigrams per doc and their distinct count: the DuckDB twin of dedup.shingles
_SHINGLE_CTE = """
docs_w AS (SELECT doc_id AS doc, string_split(lower(text), ' ') AS words FROM documents),
exploded AS (
  SELECT doc, words, unnest(range(0, greatest(len(words) - 2 + 1, 0))) AS i FROM docs_w
),
shingled AS (
  SELECT DISTINCT doc, array_to_string(words[i + 1 : i + 2], ' ') AS shingle FROM exploded
),
sizes AS (SELECT doc, count(*) AS sz FROM shingled GROUP BY doc)
"""


def _jaccard_sql(threshold: float) -> str:
    return f"""
inter AS (
  SELECT x.doc AS a, y.doc AS b, CAST(count(*) AS DOUBLE) AS i
  FROM shingled x JOIN shingled y USING (shingle)
  WHERE x.doc < y.doc GROUP BY 1, 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN cands USING (a, b)
JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
WHERE round(i / (sa.sz + sb.sz - i), 6) >= {threshold}
"""


def _minhash_sql(threshold: float) -> str:
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    mh_parts = []
    for i in range(MINHASH_HASHES):
        hashed = H32.format(x=f"concat('mh{i}|', shingle)")
        mh_parts.append(f"min({hashed}) AS h{i}")
    mh_cols = ", ".join(mh_parts)
    band_selects = " UNION ALL ".join(
        f"SELECT doc, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"CAST(h{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band))
        + ")) AS bucket FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc, {mh_cols} FROM shingled GROUP BY doc),
banded AS ({band_selects}),
cands AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y USING (band, bucket)
  WHERE x.doc < y.doc
),
{_jaccard_sql(threshold)}
"""


def _simhash_fp_banded_cte(chunks: int) -> str:
    """Shared CTE body: words → 60-bit SimHash fingerprints → chunk banding
    (used by the banded-pairs oracle AND the recall oracle)."""
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    bit_sum_cols = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc, simhash, {c} AS chunk, (simhash >> {c * width}) & {mask} AS val FROM fp"
        for c in range(chunks)
    )
    h = H32.format(x="concat('sh|', word)")
    return f"""
w AS (
  SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS word FROM documents
),
hashed AS (SELECT doc, {h} AS h FROM w),
bitsums AS (SELECT doc, {bit_sum_cols} FROM hashed GROUP BY doc),
fp AS (SELECT doc, {fp_expr} AS simhash FROM bitsums),
banded AS ({chunk_selects})"""


def _simhash_combo_banded_cte(chunks: int, combo_size: int) -> str:
    """Like ``_simhash_fp_banded_cte`` but bands every C(chunks, combo_size)
    chunk COMBINATION (concatenated chunk values as the key) — the oracle
    twin of ``dedup.simhash_pairs(..., combo_size=...)``;
    itertools.combinations order is deterministic, so band ids line up on
    both sides."""
    from itertools import combinations

    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    combo_selects = " UNION ALL ".join(
        f"SELECT doc, simhash, {i} AS band, "
        + " + ".join(
            f"(((simhash >> {c * width}) & {mask}) << {j * width})" for j, c in enumerate(combo)
        )
        + " AS val FROM fp"
        for i, combo in enumerate(combinations(range(chunks), combo_size))
    )
    base = _simhash_fp_banded_cte(chunks)
    # reuse the fp CTEs; replace the single-chunk banding with combinations
    return base[: base.index("banded AS (")] + f"banded AS ({combo_selects})"


def _simhash_wide_sql(max_hamming: int, chunks: int, combo_size: int) -> str:
    return f"""
WITH {_simhash_combo_banded_cte(chunks, combo_size)}
SELECT DISTINCT CAST(x.doc AS BIGINT) AS a, CAST(y.doc AS BIGINT) AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM banded x JOIN banded y USING (band, val)
WHERE x.doc < y.doc AND bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""


def _simhash_wide_recall_sql(max_hamming: int, chunks: int, combo_size: int) -> str:
    return f"""
WITH {_simhash_combo_banded_cte(chunks, combo_size)},
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y USING (band, val)
  WHERE x.doc < y.doc AND bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
),
brute AS (
  SELECT x.doc AS a, y.doc AS b
  FROM fp x JOIN fp y ON x.doc < y.doc
  WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
)
SELECT CAST((SELECT count(*) FROM brute) AS BIGINT) AS n_pairs_exact,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_pairs_banded,
       round(CAST((SELECT count(*) FROM cand JOIN brute USING (a, b)) AS DOUBLE)
             / (SELECT count(*) FROM brute), 6) AS recall
"""


def _simhash_sql(max_hamming: int, chunks: int) -> str:
    return f"""
WITH {_simhash_fp_banded_cte(chunks)}
SELECT DISTINCT CAST(x.doc AS BIGINT) AS a, CAST(y.doc AS BIGINT) AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM banded x JOIN banded y USING (chunk, val)
WHERE x.doc < y.doc AND bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""


def _simhash_recall_sql(max_hamming: int, chunks: int) -> str:
    """Banded pairs vs brute-force all-pairs at the same radius — recall must
    be exactly 1.0 (pigeonhole: chunks > max_hamming)."""
    return f"""
WITH {_simhash_fp_banded_cte(chunks)},
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y USING (chunk, val)
  WHERE x.doc < y.doc AND bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
),
brute AS (
  SELECT x.doc AS a, y.doc AS b
  FROM fp x JOIN fp y ON x.doc < y.doc
  WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
)
SELECT CAST((SELECT count(*) FROM brute) AS BIGINT) AS n_pairs_exact,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_pairs_banded,
       round(CAST((SELECT count(*) FROM cand JOIN brute USING (a, b)) AS DOUBLE)
             / (SELECT count(*) FROM brute), 6) AS recall
"""


def _simhash_capped_sql(max_hamming: int, chunks: int, cap: int) -> str:
    """Oracle twin of ``simhash_pairs(..., max_bucket=cap)``: buckets over
    the cap contribute the TWO-LEVEL star (identical-fingerprint members →
    their group min at distance 0, group minima → bucket min) instead of
    all pairs — replayed here with a window count + two grouped minima +
    union, so the guard itself is hash-gated."""
    return f"""
WITH {_simhash_fp_banded_cte(chunks)},
sized AS (
  SELECT doc, simhash, chunk, val, count(*) OVER (PARTITION BY chunk, val) AS bsz
  FROM banded
),
normal AS (SELECT doc, simhash, chunk, val FROM sized WHERE bsz <= {cap}),
hot AS (SELECT doc, simhash, chunk, val FROM sized WHERE bsz > {cap}),
grp AS (SELECT chunk, val, simhash, min(doc) AS gmin FROM hot GROUP BY 1, 2, 3),
brep AS (SELECT chunk, val, min(gmin) AS rdoc FROM grp GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT a, b, sa, sb FROM (
    SELECT x.doc AS a, y.doc AS b, x.simhash AS sa, y.simhash AS sb
    FROM normal x JOIN normal y USING (chunk, val) WHERE x.doc < y.doc
    UNION ALL
    SELECT g.gmin AS a, h.doc AS b, g.simhash AS sa, h.simhash AS sb
    FROM hot h JOIN grp g USING (chunk, val, simhash)
    WHERE h.doc <> g.gmin
    UNION ALL
    SELECT r.rdoc AS a, g.gmin AS b, f2.simhash AS sa, g.simhash AS sb
    FROM grp g JOIN brep r USING (chunk, val) JOIN fp f2 ON f2.doc = r.rdoc
    WHERE g.gmin <> r.rdoc
  )
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


def _dedup_components_sql(max_hamming: int, chunks: int) -> str:
    """Recursive-CTE twin of connected_components over the SimHash pairs:
    walk accumulates every (node, reachable-node) pair inside a component
    (UNION dedupes, so the recursion reaches a fixpoint), min over the
    reachable set is the component label — lexicographic min over VARCHAR
    doc ids on both engines."""
    return f"""
WITH RECURSIVE {_simhash_fp_banded_cte(chunks)},
p AS (
  SELECT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y USING (chunk, val)
  WHERE x.doc < y.doc AND bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
  GROUP BY 1, 2
),
edges AS (SELECT a AS x, b AS y FROM p UNION SELECT b, a FROM p),
walk(x, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.x, w.comp FROM edges e JOIN walk w ON w.x = e.y
),
labeled AS (SELECT x, min(comp) AS comp FROM walk GROUP BY x)
SELECT CAST(comp AS BIGINT) AS component, CAST(count(*) AS BIGINT) AS n_docs
FROM labeled GROUP BY 1
"""


def _simhash_hot_buckets_sql(chunks: int, cap: int) -> str:
    return f"""
WITH {_simhash_fp_banded_cte(chunks)},
hb AS (
  SELECT chunk, val, count(*) AS n FROM banded GROUP BY chunk, val
  HAVING count(*) > {cap}
)
SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets,
       CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_docs,
       CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs_in_hot
FROM hb
"""


def _dlit(vec: list[float]) -> str:
    return "[" + ",".join(repr(v) for v in vec) + "]::DOUBLE[]"


def _rhp_banded_cte(dim: int) -> str:
    """Shared CTE body: hyperplane sign-bit band signatures + candidate pairs
    (identical hyperplane literals to the Spark side ⇒ identical candidates)."""
    from log_parser_cli_spark.extras.similarity import hyperplanes

    planes = hyperplanes(RHP_PLANES, dim)
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id AS doc, {b} AS band, "
        + " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_dlit(planes[b * RHP_ROWS_PER_BAND + r])}) >= 0 THEN {1 << r} ELSE 0 END)"
            for r in range(RHP_ROWS_PER_BAND)
        )
        + " AS val FROM embeddings"
        for b in range(RHP_PLANES // RHP_ROWS_PER_BAND)
    )
    return f"""
banded AS ({band_selects}),
cands AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y USING (band, val) WHERE x.doc < y.doc
)"""


def _rhp_dedup_sql(dim: int) -> str:
    """Random-hyperplane LSH candidates → exact cosine verify — the DuckDB
    twin of q_embedding_dedup."""
    return f"""
WITH {_rhp_banded_cte(dim)}
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) AS sim
FROM cands JOIN embeddings x ON x.vec_id = a JOIN embeddings y ON y.vec_id = b
WHERE round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) >= {RHP_THRESHOLD}
"""


def _rhp_recall_sql(dim: int) -> str:
    """LSH-verified pairs vs brute-force all-pairs cosine at the same
    threshold — the DuckDB twin of q_rhp_recall."""
    return f"""
WITH {_rhp_banded_cte(dim)},
lsh AS (
  SELECT a, b
  FROM cands JOIN embeddings x ON x.vec_id = a JOIN embeddings y ON y.vec_id = b
  WHERE round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) >= {RHP_THRESHOLD}
),
exact AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
  WHERE round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) >= {RHP_THRESHOLD}
)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_pairs_exact,
       CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_pairs_lsh,
       round(CAST((SELECT count(*) FROM lsh JOIN exact USING (a, b)) AS DOUBLE)
             / (SELECT count(*) FROM exact), 6) AS recall
"""


def _simhash_cands_jaccard_sql(threshold: float) -> str:
    """SimHash chunk-band candidates → exact Jaccard verify (the DuckDB twin
    of the cross-family q_dedup_jaccard_docs plan)."""
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << width) - 1
    bit_sum_cols = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc, {c} AS chunk, (simhash >> {c * width}) & {mask} AS val FROM fp"
        for c in range(SIMHASH_CHUNKS)
    )
    h = H32.format(x="concat('sh|', word)")
    return f"""
WITH {_SHINGLE_CTE},
sw AS (SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS word FROM documents),
hashed AS (SELECT doc, {h} AS h FROM sw),
bitsums AS (SELECT doc, {bit_sum_cols} FROM hashed GROUP BY doc),
fp AS (SELECT doc, {fp_expr} AS simhash FROM bitsums),
banded AS ({chunk_selects}),
cands AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM banded x JOIN banded y USING (chunk, val) WHERE x.doc < y.doc
),
{_jaccard_sql(threshold)}
"""


def _ivf_core_sql(centroids: list[list[float]], query_ids: list[int], nprobe: int, k: int) -> str:
    """CTE body producing the IVF ranked (query_id, rank, neighbor_id, sim)."""
    ids = ",".join(map(str, query_ids))
    sims_list = "[" + ", ".join(
        f"round(list_cosine_similarity(embedding::DOUBLE[], {_dlit(c)}), 6)" for c in centroids
    ) + "]"
    probe_selects = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, embedding AS qvec, {cid} AS cid, "
        f"round(list_cosine_similarity(embedding::DOUBLE[], {_dlit(c)}), 6) AS qsim "
        f"FROM embeddings WHERE vec_id IN ({ids})"
        for cid, c in enumerate(centroids)
    )
    return f"""
sims AS (SELECT vec_id, embedding, {sims_list} AS s FROM embeddings),
assigned AS (
  SELECT vec_id, embedding, list_indexof(s, list_aggregate(s, 'max')) - 1 AS cid FROM sims
),
probes AS (
  SELECT query_id, qvec, cid FROM (
    SELECT query_id, qvec, cid,
           row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr
    FROM ({probe_selects})
  ) WHERE pr <= {nprobe}
),
ivf_scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qvec::DOUBLE[], a.embedding::DOUBLE[]), 4) AS sim
  FROM assigned a JOIN probes p USING (cid) WHERE a.vec_id <> p.query_id
),
ivf_ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM ivf_scored
)"""


_ANN_EXACT_CORE = """
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id IN ({ids})),
exact_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qvec::DOUBLE[], e.embedding::DOUBLE[]), 4) AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM exact_scored
)"""


def _metrics_sql(labels_rel: str) -> str:
    """Metrics SQL over any labels relation (a quoted path or a subquery)."""
    return f"""
WITH labels AS (SELECT pred_id, gt_id FROM {labels_rel}),
cells AS (SELECT pred_id, gt_id, CAST(count(*) AS DOUBLE) AS cnt FROM labels GROUP BY 1, 2),
gt_sizes AS (SELECT gt_id, sum(cnt) AS sz FROM cells GROUP BY 1),
pred_sizes AS (
  SELECT pred_id, sum(cnt) AS sz, count(*) AS n_gt, max(cnt) AS top, min(gt_id) AS any_gt
  FROM cells GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM labels),
rp AS (SELECT coalesce(sum(sz * (sz - 1) / 2), 0) AS p FROM gt_sizes),
pp AS (SELECT coalesce(sum(sz * (sz - 1) / 2), 0) AS p FROM pred_sizes),
ap AS (SELECT coalesce(sum(cnt * (cnt - 1) / 2), 0) AS p FROM cells),
ae AS (
  SELECT coalesce(sum(ps.sz), 0) AS s FROM pred_sizes ps
  JOIN gt_sizes gs ON ps.any_gt = gs.gt_id
  WHERE ps.n_gt = 1 AND ps.sz = gs.sz
),
prp AS (SELECT sum(top) / sum(sz) AS v FROM pred_sizes),
gtp AS (
  SELECT sum(top) / sum(sz) AS v
  FROM (SELECT gt_id, max(cnt) AS top, sum(cnt) AS sz FROM cells GROUP BY 1)
),
mapping AS (
  SELECT pred_id, CASE WHEN n_gt = 1 THEN '__PURE__#' || any_gt ELSE pred_id END AS merged
  FROM pred_sizes
),
fl AS (SELECT m.merged AS pred_id, l.gt_id FROM labels l JOIN mapping m USING (pred_id)),
fc AS (SELECT pred_id, gt_id, CAST(count(*) AS DOUBLE) AS cnt FROM fl GROUP BY 1, 2),
fps AS (SELECT pred_id, sum(cnt) AS sz, count(*) AS n_gt, min(gt_id) AS any_gt FROM fc GROUP BY 1),
fpp AS (SELECT coalesce(sum(sz * (sz - 1) / 2), 0) AS p FROM fps),
fap AS (SELECT coalesce(sum(cnt * (cnt - 1) / 2), 0) AS p FROM fc),
fae AS (
  SELECT coalesce(sum(f.sz), 0) AS s FROM fps f
  JOIN gt_sizes gs ON f.any_gt = gs.gt_id WHERE f.n_gt = 1 AND f.sz = gs.sz
),
pure_rows AS (SELECT coalesce(sum(sz), 0) AS s FROM pred_sizes WHERE n_gt = 1),
m AS (
  SELECT
    CASE WHEN pp.p = 0 THEN 0 ELSE ap.p / pp.p END AS prec,
    CASE WHEN rp.p = 0 THEN 0 ELSE ap.p / rp.p END AS rec,
    CASE WHEN fpp.p = 0 THEN 0 ELSE fap.p / fpp.p END AS fprec,
    CASE WHEN rp.p = 0 THEN 0 ELSE fap.p / rp.p END AS frec,
    ae.s / tot.n AS pa, fae.s / tot.n AS fpa,
    prp.v AS pred_pure, gtp.v AS gt_pure, pure_rows.s / tot.n AS pcov
  FROM pp, rp, ap, ae, fpp, fap, fae, tot, prp, gtp, pure_rows
)
SELECT
  round(CASE WHEN prec + rec = 0 THEN 0 ELSE 2 * prec * rec / (prec + rec) END, 6) AS ga,
  round(prec, 6) AS ga_precision,
  round(rec, 6) AS ga_recall,
  round(pa, 6) AS pa,
  round(pred_pure, 6) AS predpure,
  round(gt_pure, 6) AS gtpure,
  round(CASE WHEN fprec + frec = 0 THEN 0 ELSE 2 * fprec * frec / (fprec + frec) END, 6) AS ga_friendly,
  round(fpa, 6) AS pa_friendly,
  round(pcov, 6) AS purecoverage
FROM m
"""


def _eval_reports_sql(labels_path: str, gt_path: str, sources: list[str]) -> str:
    """Per-dataset metrics + coverage + macro, recomputed straight from the
    labels/gt parquet (the oracle twin of the report-file round-trip)."""

    def rel(src: str) -> str:
        return (
            f"(SELECT l.pred_id, l.gt_id FROM '{labels_path}' l "
            f"JOIN '{gt_path}' g USING (line_no) "
            f"WHERE g.source = '{src}' AND l.pred_id <> '__UNPARSED__')"
        )

    per_source = " UNION ALL ".join(
        f"""
        SELECT '{src}' AS dataset, m.ga, m.ga_precision, m.ga_recall, m.pa,
               m.predpure, m.gtpure, m.ga_friendly, m.pa_friendly, m.purecoverage,
               round(
                 (SELECT CAST(count(*) AS DOUBLE) FROM '{labels_path}' l
                  JOIN '{gt_path}' g USING (line_no)
                  WHERE g.source = '{src}' AND l.pred_id <> '__UNPARSED__')
                 / (SELECT count(*) FROM '{gt_path}' WHERE source = '{src}'), 6) AS coverage
        FROM ({_metrics_sql(rel(src))}) m
        """
        for src in sorted(sources)
    )
    return f"""
WITH per_ds AS ({per_source})
SELECT * FROM per_ds
UNION ALL
SELECT '__MACRO__', round(avg(ga), 6), round(avg(ga_precision), 6),
       round(avg(ga_recall), 6), round(avg(pa), 6), round(avg(predpure), 6),
       round(avg(gtpure), 6), round(avg(ga_friendly), 6), round(avg(pa_friendly), 6),
       round(avg(purecoverage), 6), round(avg(coverage), 6)
FROM per_ds
"""


def _lang_id_sql() -> str:
    from log_parser_cli_spark.extras.textstats import STOPWORDS

    hits = {
        lang: f"len(list_intersect(string_split(lower(text), ' '), {list(ws)}))"
        for lang, ws in STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in STOPWORDS) + ")"
    cascade = " ".join(
        f"WHEN {best} > 0 AND h_{lang} = {best} THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return f"""
WITH scored AS (SELECT *, {hit_cols} FROM documents),
guessed AS (SELECT CASE {cascade} ELSE 'und' END AS lang_guess FROM scored)
SELECT lang_guess, CAST(count(*) AS BIGINT) AS n_docs FROM guessed GROUP BY 1
"""


def _source_routing_sql(gt: str, sources_path: str) -> str:
    """Replay parse_stage's first-match-in-sorted-source-order vote as a
    regexp CASE over the ground truth's rendered lines."""
    import pyarrow.parquet as pq

    t = pq.read_table(sources_path, columns=["source", "head_pattern"])
    heads = sorted(zip(t["source"].to_pylist(), t["head_pattern"].to_pylist()))
    cases = " ".join(
        f"WHEN regexp_matches(rendered, '{pat.replace(chr(39), chr(39) * 2)}') THEN '{src}'"
        for src, pat in heads
    )
    return f"""
        SELECT CASE {cases} ELSE '__UNKNOWN__' END AS source,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM '{gt}' GROUP BY 1
    """


def _compression_gain_twin_sql(gt: str) -> str:
    """Pure-Python twin of extras.overbroad.compression_gain_stats over the
    ground truth (same zlib level, same doc_id-ordered cap, same rounding),
    inlined as literal rows — gzip byte counts are not SQL-expressible, so
    the twin IS the oracle (the head_derive pattern)."""
    import zlib
    from itertools import groupby

    import duckdb

    from log_parser_cli_spark.extras.overbroad import GAIN_THRESHOLD, MAX_ROWS_PER_TEMPLATE

    con = duckdb.connect()
    # key = source || '||' || event_template: discovered ids carry their own
    # numbering, the (source, star) pair is the stable cross-side contract
    rows = con.execute(
        f"SELECT source || '||' || event_template AS tid, doc_id, content, "
        f"event_template, word_var_concat "
        f"FROM '{gt}' WHERE head_matched ORDER BY tid, doc_id"
    ).fetchall()
    con.close()
    selects = []
    for tid, grp in groupby(rows, key=lambda r: r[0]):
        g = list(grp)[:MAX_ROWS_PER_TEMPLATE]
        raws = "\n".join(r[2] or "" for r in g)
        template = g[0][3] or ""
        var_text = "\n".join(r[4] or "" for r in g)
        raw_b = len(zlib.compress(raws.encode("utf-8")))
        tpl_b = len(zlib.compress(template.encode("utf-8")))
        var_b = len(zlib.compress(var_text.encode("utf-8")))
        gain = round(1.0 - (tpl_b + var_b) / raw_b if raw_b else 0.0, 4)
        selects.append(
            f"SELECT '{tid.replace(chr(39), chr(39) * 2)}' AS template_id, "
            f"CAST({len(g)} AS BIGINT) AS n_rows, "
            f"CAST({raw_b} AS BIGINT) AS raw_gzip_bytes, "
            f"CAST({tpl_b} AS BIGINT) AS template_gzip_bytes, "
            f"CAST({var_b} AS BIGINT) AS vars_gzip_bytes, "
            f"CAST({gain!r} AS DOUBLE) AS compression_gain, "
            f"{'TRUE' if gain < GAIN_THRESHOLD else 'FALSE'} AS overbroad"
        )
    return " UNION ALL ".join(selects)


def build_oracle_sql() -> dict[str, str]:
    gt = _fx("ground_truth")
    labels = _fx("labels")
    h32_fp = H32.format(x="concat('fp|', gram)")
    # centroid/hyperplane literals mirror the Spark queries at the driver's
    # compare scale (sf0.01 testdata)
    _emb_path = "/root/testdata/sf0.01/embeddings.parquet"
    try:
        import pyarrow.parquet as _pq

        _emb_dim = len(_pq.read_table(_emb_path, columns=["embedding"])["embedding"][0])
        _centroids = _ivf_centroids_for("/root/testdata/sf0.01")
    except (OSError, ImportError):  # testdata absent: skip approximate oracles
        _emb_dim, _centroids = None, None
    return {
        "pipeline_sink_counts": f"""
            SELECT source, event_template AS template_star, CAST(count(*) AS BIGINT) AS n_sequences
            FROM '{gt}' GROUP BY 1, 2
        """,
        "pipeline_route_equality": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_token_mismatch
            FROM '{gt}'
        """,
        "pipeline_ntok_hist": f"""
            SELECT source, CAST(n_tok AS BIGINT) AS n_tok, CAST(count(*) AS BIGINT) AS cnt
            FROM '{gt}' GROUP BY 1, 2
        """,
        "pipeline_variables": f"""
            SELECT source, event_template AS template_star,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(n_vars) AS BIGINT) AS total_vars,
                   CAST(sum(length(word_var_concat)) AS BIGINT) AS total_var_chars
            FROM '{gt}' GROUP BY 1, 2
        """,
        "match_regex_counts": f"""
            SELECT source, event_id AS template_id, CAST(count(*) AS BIGINT) AS n_rows
            FROM '{gt}' GROUP BY 1, 2
        """,
        "head_coverage": f"""
            SELECT source, head_matched, CAST(count(*) AS BIGINT) AS n_rows
            FROM '{gt}' GROUP BY 1, 2
        """,
        "head_derive": " UNION ALL ".join(
            f"""
            SELECT source, '{pat.replace("'", "''")}' AS pattern,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN regexp_matches(rendered, '{pat.replace("'", "''")}') THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
            FROM '{gt}' WHERE source = '{src}' GROUP BY 1, 2
            """
            for src, pat in sorted(_derive_heads_from_gt(gt).items())
        ),
        "eval_metrics": _metrics_sql(f"'{labels}'"),
        "eval_from_reports": _eval_reports_sql(
            labels, gt, ["apache", "hdfs", "android", "openssh", "proxifier", "healthapp"]
        ),
        "template_conflicts": f"""
            WITH capped AS (
              SELECT event_id AS template_id, content,
                     row_number() OVER (PARTITION BY event_id ORDER BY line_no) AS rn
              FROM '{gt}' WHERE head_matched
            )
            SELECT template_id, CAST(count(*) AS BIGINT) AS n_conflicts
            FROM capped
            WHERE rn <= 20 AND template_id <> '{CONFLICT_CANDIDATE[0]}'
              AND regexp_matches(content, '{CONFLICT_CANDIDATE[1].replace("'", "''")}')
            GROUP BY 1
        """,
        "pipeline_eval_vs_gt": """
            SELECT 1.0 AS ga, 1.0 AS ga_precision, 1.0 AS ga_recall, 1.0 AS pa,
                   1.0 AS predpure, 1.0 AS gtpure, 1.0 AS ga_friendly,
                   1.0 AS pa_friendly, 1.0 AS purecoverage
        """,
        "mapping_evolution": f"""
            SELECT source, event_template AS template_star, CAST(count(*) AS BIGINT) AS n_sequences
            FROM '{gt}' GROUP BY 1, 2
        """,
        "pipeline_with_refine": f"""
            SELECT source, event_template AS template_star, CAST(count(*) AS BIGINT) AS n_sequences
            FROM '{gt}' GROUP BY 1, 2
        """,
        "derived_library_counts": f"""
            SELECT source, event_template AS template_star, CAST(count(*) AS BIGINT) AS n_sequences
            FROM '{gt}' GROUP BY 1, 2
        """,
        "library_upsert": f"""
            WITH t AS (SELECT template_id, source, created_at FROM '{_fx("templates")}'),
            u AS (
              SELECT template_id, source, created_at + 100 AS created_at
              FROM t WHERE created_at % 2 = 0
              UNION ALL
              SELECT source || '#new', source, max(created_at) + 1 FROM t GROUP BY source
            ),
            merged AS (
              SELECT * FROM t WHERE template_id NOT IN (SELECT template_id FROM u)
              UNION ALL SELECT * FROM u
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_templates,
                   CAST(sum(created_at) AS BIGINT) AS sum_created
            FROM merged GROUP BY 1
        """,
        "orphan_requeue": f"""
            WITH m AS (
              SELECT doc_id, source, content, event_id AS template_id
              FROM '{gt}' WHERE head_matched
            ),
            kept AS (SELECT * FROM m WHERE template_id NOT IN ('apache#1', 'hdfs#2')),
            orphans AS (SELECT * FROM m WHERE template_id IN ('apache#1', 'hdfs#2')),
            seen AS (SELECT content FROM kept ORDER BY doc_id LIMIT 100),
            fresh AS (SELECT * FROM orphans WHERE content NOT IN (SELECT content FROM seen)),
            k AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY 1),
            p AS (SELECT source, count(*) AS n_pending FROM fresh GROUP BY 1)
            SELECT source, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(coalesce(n_pending, 0) AS BIGINT) AS n_pending
            FROM k FULL JOIN p USING (source)
        """,
        "alignment_occurrences": f"""
            WITH numbered AS (
              SELECT row_number() OVER (PARTITION BY rendered ORDER BY line_no) AS occurrence_no
              FROM '{gt}'
            )
            SELECT CAST(occurrence_no AS BIGINT) AS occurrence_no,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM numbered GROUP BY 1
        """,
        "topk_per_source": f"""
            WITH numbered AS (
              SELECT source, line_no,
                     row_number() OVER (PARTITION BY source ORDER BY line_no DESC) AS rn
              FROM '{gt}'
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(min(line_no) AS BIGINT) AS oldest_kept
            FROM numbered WHERE rn <= 100 GROUP BY 1
        """,
        "dedup_exact_docs": """
            WITH g AS (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)
            SELECT CAST(sum(n) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_rows,
                   CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
            FROM g
        """,
        "source_routing": _source_routing_sql(gt, _fx("sources")),
        "compression_gain": _compression_gain_twin_sql(gt),
        "stream_batch_equality": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(0 AS BIGINT) AS n_token_mismatch,
                   CAST(0 AS BIGINT) AS n_star_mismatch
            FROM '{gt}'
        """,
        "stream_discovery_equality": f"""
            SELECT source, event_template AS template_star, CAST(count(*) AS BIGINT) AS n_sequences
            FROM '{gt}' GROUP BY 1, 2
        """,
        "dedup_jaccard_docs": _simhash_cands_jaccard_sql(0.3),
        "dedup_minhash_docs": _minhash_sql(0.3),
        "dedup_simhash_docs": _simhash_sql(SIMHASH_MAX_HAMMING, SIMHASH_CHUNKS),
        "simhash_recall": _simhash_recall_sql(SIMHASH_MAX_HAMMING, SIMHASH_CHUNKS),
        "dedup_simhash_capped": _simhash_capped_sql(
            SIMHASH_MAX_HAMMING, SIMHASH_CHUNKS, SIMHASH_CAP_BUCKET
        ),
        "simhash_hot_buckets": _simhash_hot_buckets_sql(SIMHASH_CHUNKS, SIMHASH_CAP_BUCKET),
        "dedup_components": _dedup_components_sql(SIMHASH_MAX_HAMMING, SIMHASH_CHUNKS),
        "dedup_simhash_wide": _simhash_wide_sql(
            SIMHASH_WIDE_HAMMING, SIMHASH_WIDE_CHUNKS, SIMHASH_WIDE_COMBO
        ),
        "simhash_wide_recall": _simhash_wide_recall_sql(
            SIMHASH_WIDE_HAMMING, SIMHASH_WIDE_CHUNKS, SIMHASH_WIDE_COMBO
        ),
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.qvec::DOUBLE[], e.embedding::DOUBLE[]), 4) AS sim
              FROM embeddings e, q WHERE e.vec_id <> q.query_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id, sim
            FROM ranked WHERE rank <= 10
        """,
        **(
            {
                "embedding_dedup": _rhp_dedup_sql(_emb_dim),
                "rhp_recall": _rhp_recall_sql(_emb_dim),
                "ann_ivf": (
                    "WITH "
                    + _ivf_core_sql(_centroids, ANN_QUERY_IDS, IVF_NPROBE, 10)[1:]
                    + """
            SELECT query_id, CAST(rank AS BIGINT) AS rank,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id, sim
            FROM ivf_ranked WHERE rank <= 10
        """
                ),
                # ann_ivf_join names the same literal-centroid query as
                # ann_ivf (IVF has one centroid carrier)
                "ann_ivf_join": (
                    "WITH "
                    + _ivf_core_sql(_centroids, ANN_QUERY_IDS, IVF_NPROBE, 10)[1:]
                    + """
            SELECT query_id, CAST(rank AS BIGINT) AS rank,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id, sim
            FROM ivf_ranked WHERE rank <= 10
        """
                ),
                "ann_ivf_recall": (
                    "WITH "
                    + _ivf_core_sql(_centroids, ANN_QUERY_IDS, IVF_NPROBE, 10)[1:]
                    + ", "
                    + _ANN_EXACT_CORE.format(ids=",".join(map(str, ANN_QUERY_IDS)))[1:]
                    + f"""
            SELECT CAST(10 AS BIGINT) AS k,
                   CAST({len(ANN_QUERY_IDS)} AS BIGINT) AS n_queries,
                   round(count(*) / (10.0 * {len(ANN_QUERY_IDS)}), 6) AS recall
            FROM (SELECT query_id, neighbor_id FROM ivf_ranked WHERE rank <= 10) i
            JOIN (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= 10) e
            USING (query_id, neighbor_id)
        """
                ),
            }
            if _centroids is not None
            else {}
        ),
        "doc_token_stats": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY 1
        """,
        "doc_quality": """
            WITH q AS (
              SELECT source,
                     round(0.4 * least(1.0, len(string_split(lower(text), ' ')) / 80.0)
                         + 0.4 * (len(list_distinct(string_split(lower(text), ' ')))
                                  / greatest(CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 1.0))
                         + 0.2 * least(1.0, n_chars / (len(string_split(lower(text), ' ')) * 8.0)), 4) AS qs
              FROM documents
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs, round(avg(qs), 4) AS avg_quality
            FROM q GROUP BY 1
        """,
        "doc_lang_id": _lang_id_sql(),
        "doc_fingerprints": f"""
            WITH docs_w AS (
              SELECT doc_id AS doc, string_split(lower(text), ' ') AS words FROM documents
            ),
            exploded AS (
              SELECT doc, words, unnest(range(0, greatest(len(words) - 3 + 1, 0))) AS pos FROM docs_w
            ),
            g AS (
              SELECT doc, pos, {h32_fp} AS h
              FROM (SELECT doc, pos, array_to_string(words[pos + 1 : pos + 3], ' ') AS gram FROM exploded)
            ),
            mins AS (
              SELECT doc, pos,
                     min(h) OVER (PARTITION BY doc ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                     max(pos) OVER (PARTITION BY doc) AS maxpos
              FROM g
            )
            SELECT CAST(doc AS BIGINT) AS doc_id,
                   CAST(count(DISTINCT wmin) AS BIGINT) AS n_fingerprints
            FROM mins WHERE pos <= maxpos - 3 GROUP BY 1
        """,
        "events_parse": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   CAST(sum(CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY 1
        """,
        "events_sessionize": """
            WITH gapped AS (
              SELECT user_id,
                     CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions
            FROM gapped GROUP BY 1
        """,
        "orders_enrich": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
    }
