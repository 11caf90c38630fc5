"""Source routing: parse_stage classifies NULL/empty-source rows by a
head-pattern vote in its one pass."""

import json
import os

import pyspark.sql.functions as F

from log_parser_cli_spark.operators.parse import UNKNOWN_SOURCE, parse_stage
from log_parser_cli_spark.plans.pipeline import load_dims


def test_parse_routes_unknown_sources_to_ground_truth(spark, fixture_dir):
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    anon = seq.withColumn("source", F.lit(None).cast("string"))
    inferred = parse_stage(spark, anon, vocab_rows, source_heads)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet")).select(
        "doc_id", F.col("source").alias("gt_source"), "head_matched"
    )
    j = inferred.select("doc_id", "source").join(gt, "doc_id")
    # head-matched rows route to their true source (fixture heads are
    # mutually exclusive); noise rows land in __UNKNOWN__
    bad = j.filter(
        (F.col("head_matched") & (F.col("source") != F.col("gt_source")))
        | (~F.col("head_matched") & (F.col("source") != UNKNOWN_SOURCE))
    )
    assert bad.count() == 0, bad.take(5)


def test_null_and_empty_source_rows_parse_as_ground_truth(spark, fixture_dir):
    """One NULL-source and one ""-source row amid known sources: the parse
    does not fail, and both rows get their true source and content."""
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    picked = gt.filter("head_matched").orderBy("doc_id").select("doc_id").limit(2).collect()
    null_doc, empty_doc = (r.doc_id for r in picked)
    holed = seq.withColumn(
        "source",
        F.when(F.col("doc_id") == null_doc, F.lit(None).cast("string"))
        .when(F.col("doc_id") == empty_doc, F.lit(""))
        .otherwise(F.col("source")),
    )
    parsed = parse_stage(spark, holed, vocab_rows, source_heads)
    got = {
        r.doc_id: (r.source, r.content, r.head_matched)
        for r in parsed.filter(F.col("doc_id").isin(null_doc, empty_doc)).collect()
    }
    want = {
        r.doc_id: (r.source, r.content, True)
        for r in gt.filter(F.col("doc_id").isin(null_doc, empty_doc)).collect()
    }
    assert got == want


def test_pipeline_with_inferred_sources_matches_baseline(
    spark, fixture_dir, pipeline_out, tmp_path, monkeypatch
):
    """Full pipeline over a table whose sources were stripped: routing by
    head-pattern vote recovers them, so per-(source, star) counts for the
    routable rows equal the baseline run (noise rows route to __UNKNOWN__)."""
    from log_parser_cli_spark.plans.pipeline import run_pipeline

    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    anon = seq.withColumn("source", F.lit(None).cast("string"))
    out = str(tmp_path / "routed_run")

    def no_count_jobs(self):
        raise AssertionError("pipeline counts rows by observation, never a count() job")

    with monkeypatch.context() as m:
        # type(seq), not pyspark.sql.DataFrame: the classic DataFrame
        # subclass overrides count()
        m.setattr(type(seq), "count", no_count_jobs)
        result = run_pipeline(
            spark, fixture_dir, out, run_id="routed", seq_df=anon, checkpoint_parse=False
        )
    # one-shot mode: the parse observation fires on the first action that
    # fills the cache; its count lands in both the result and the manifest
    with open(os.path.join(out, "_manifest.json")) as f:
        parse_entry = json.load(f)["stages"]["parse"]
    assert parse_entry["rows"] == result.counts["parsed"] == seq.count()
    assert "wall_ms" in parse_entry
    mine = {
        (r.source, r.template_star): r.n
        for r in spark.read.parquet(os.path.join(out, "sink_counts"))
        .groupBy("source", "template_star").agg(F.sum("n_sequences").alias("n")).collect()
    }
    base = {
        (r.source, r.template_star): r.n
        for r in spark.read.parquet(os.path.join(pipeline_out, "sink_counts"))
        .groupBy("source", "template_star").agg(F.sum("n_sequences").alias("n")).collect()
    }
    # all real-source rows identical; the baseline's per-source noise rows
    # are consolidated under __UNKNOWN__ here
    mine_known = {k: v for k, v in mine.items() if k[0] != UNKNOWN_SOURCE}
    base_known = {k: v for k, v in base.items() if k[1] != ""}
    assert mine_known == base_known
    assert sum(v for k, v in mine.items() if k[0] == UNKNOWN_SOURCE) == sum(
        v for k, v in base.items() if k[1] == ""
    )


def test_anon_source_pipeline_plan_has_one_map_in_arrow(
    spark, fixture_dir, pipeline_out, tmp_path, monkeypatch
):
    """Routing adds no Python pass: the parsed frame of an anon-source run is
    planned with exactly one MapInArrow, and the run routes and aggregates."""
    import log_parser_cli_spark.plans.pipeline as P

    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    anon = seq.withColumn("source", F.lit(None).cast("string"))
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    observed = []
    real_observe = P._observe

    def recording_observe(df, **metrics):
        observed.append(df)
        return real_observe(df, **metrics)

    monkeypatch.setattr(P, "_observe", recording_observe)
    out = str(tmp_path / "anon_match_only")
    P.run_pipeline(spark, fixture_dir, out, run_id="anon", seq_df=anon, mapping_df=mapping)
    plan = observed[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert os.path.isdir(os.path.join(out, "sink_counts"))


def test_parse_passthrough_when_known(spark, fixture_dir):
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    same = parse_stage(spark, seq, vocab_rows, source_heads)
    diff = (
        same.select("doc_id", F.col("source").alias("s2"))
        .join(seq.select("doc_id", "source"), "doc_id")
        .filter(F.col("s2") != F.col("source"))
    )
    assert diff.count() == 0
