"""The refine machine wired into the pipeline (run_pipeline(refine=True)):
conflict → delete → re-queue against an injected overbroad seed template
(pipeline.ts:130-165, 355-451, 561-612 shape)."""

import json
import os

import pyspark.sql.functions as F

from log_parser_cli_spark.plans.pipeline import refine_mapping, run_pipeline

SEED = {
    "template_id": "apache#0seed",
    "source": "apache",
    "pattern": r"(?P<v1>.*)",
    "created_at": 0,
    "template_star": "<*>",
}


def _star_counts(spark, out):
    return {
        (r.source, r.template_star): r.n
        for r in spark.read.parquet(os.path.join(out, "sink_counts"))
        .groupBy("source", "template_star")
        .agg(F.sum("n_sequences").alias("n"))
        .collect()
    }


def test_refine_deletes_overbroad_seed_and_matches_plain_run(
    spark, fixture_dir, pipeline_out, tmp_path
):
    out = str(tmp_path / "refine_run")
    run_pipeline(
        spark, fixture_dir, out, run_id="refine", refine=True,
        seed_library=[dict(SEED)], checkpoint_parse=False,
    )
    with open(os.path.join(out, "refine_reports.json")) as f:
        reports = json.load(f)
    deleted = {d for r in reports for d in r["deleted_ids"]}
    # the overbroad seed was detected as conflicting and deleted
    assert SEED["template_id"] in deleted
    # no real template was deleted
    assert deleted == {SEED["template_id"]}
    # every Drain candidate was eventually accepted
    assert all(r["accepted"] for r in reports)
    # the final mapping carries no trace of the seed
    mapping = spark.read.parquet(os.path.join(out, "template_mapping"))
    assert mapping.filter(F.col("template_id") == SEED["template_id"]).count() == 0
    # end-to-end clustering equals the plain (no-refine) run exactly
    assert _star_counts(spark, out) == _star_counts(spark, pipeline_out)


def test_refine_without_seed_is_identity(spark, fixture_dir, pipeline_out, tmp_path):
    """With no poisoned seed the queue accepts every candidate conflict-free
    and reproduces the plain run's clustering."""
    out = str(tmp_path / "refine_noseed")
    run_pipeline(
        spark, fixture_dir, out, run_id="refine2", refine=True, checkpoint_parse=False,
    )
    with open(os.path.join(out, "refine_reports.json")) as f:
        reports = json.load(f)
    assert all(r["accepted"] and not r["deleted_ids"] for r in reports)
    assert _star_counts(spark, out) == _star_counts(spark, pipeline_out)


def test_refine_job_count_does_not_grow_with_candidates(spark, pipeline_out):
    """The machine runs on the driver over the collected signature
    representatives: refine_mapping runs a fixed handful of Spark jobs, not
    several per candidate."""
    parsed = spark.read.parquet(os.path.join(pipeline_out, "parsed"))
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    sc = spark.sparkContext
    sc.setJobGroup("refine-job-count", "refine_mapping")
    try:
        _, reports = refine_mapping(spark, parsed, mapping, seed_library=[dict(SEED)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(reports) > 10
    assert len(sc.statusTracker().getJobIdsForGroup("refine-job-count")) <= 10


def test_refined_salt_shares_equal_discovery(spark, pipeline_out):
    """With no deletion the refined templates are discovery's, so each one's
    ``salt_share`` (its rows ÷ the hottest template's rows) is discovery's
    too, and the route salts it the same."""
    parsed = spark.read.parquet(os.path.join(pipeline_out, "parsed"))
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    refined, reports = refine_mapping(spark, parsed, mapping)
    assert all(r["accepted"] and not r["deleted_ids"] for r in reports)

    def shares(df):
        return dict(df.select("template_id", "salt_share").distinct().collect())

    assert shares(refined) == shares(mapping)
