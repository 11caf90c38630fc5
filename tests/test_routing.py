"""Routing stage: unknown-source rows classified by head-pattern vote."""

import json
import os

import pyspark.sql.functions as F

from log_parser_cli_spark.operators.parse import infer_sources
from log_parser_cli_spark.plans.pipeline import load_dims


def test_infer_sources_recovers_ground_truth(spark, fixture_dir):
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    anon = seq.withColumn("source", F.lit(None).cast("string"))
    inferred = infer_sources(spark, anon, vocab_rows, source_heads)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet")).select(
        "doc_id", F.col("source").alias("gt_source"), "head_matched"
    )
    j = inferred.select("doc_id", "source").join(gt, "doc_id")
    # head-matched rows route to their true source (fixture heads are
    # mutually exclusive); noise rows land in __UNKNOWN__
    bad = j.filter(
        (F.col("head_matched") & (F.col("source") != F.col("gt_source")))
        | (~F.col("head_matched") & (F.col("source") != "__UNKNOWN__"))
    )
    assert bad.count() == 0, bad.take(5)


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
            spark, fixture_dir, out, run_id="routed", seq_df=anon,
            infer_missing_sources=True, checkpoint_parse=False,
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
    mine_known = {k: v for k, v in mine.items() if k[0] != "__UNKNOWN__"}
    base_known = {k: v for k, v in base.items() if k[1] != ""}
    assert mine_known == base_known
    assert sum(v for k, v in mine.items() if k[0] == "__UNKNOWN__") == sum(
        v for k, v in base.items() if k[1] == ""
    )


def test_infer_sources_passthrough_when_known(spark, fixture_dir):
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    same = infer_sources(spark, seq, vocab_rows, source_heads)
    diff = (
        same.select("doc_id", F.col("source").alias("s2"))
        .join(seq.select("doc_id", "source"), "doc_id")
        .filter(F.col("s2") != F.col("source"))
    )
    assert diff.count() == 0
