"""End-to-end eval harness: report files → aligned labels → metrics.

The reference's eval entry point (benchmark/run-eval.js:306-417) does NOT
score in-memory state — it ingests the pipeline's REPORT FILES (latest matches
CSV + failures JSONL), aligns each predicted match to a ground-truth line by
raw text with FIFO occurrence numbering for duplicates (run-eval.js:168-207,
J5/W1), computes GA/PA/purity/friendly per dataset, and macro-averages
(run-eval.js:327-375). This module is that flow over Spark:

- ``write_eval_reports``: materialize the two report sinks from a labeled
  run (matches CSV via K2, failures JSONL via K4).
- ``eval_from_reports``: read the files back, occurrence-align to ground
  truth, reduce each dataset's (pred, gt) contingency cells in ONE scan
  (groupBy source+pred+gt, tiny output), score every dataset in one
  ``cell_metrics`` call keyed on source, append the __MACRO__
  unweighted-average row.

Alignment note: within one raw-text bucket the gt event is constant (two
different templates cannot render identical lines within a source), so FIFO
pairing order cannot change the (pred, gt) multiset — occurrence numbering is
kept for reference parity and for duplicate-count correctness.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_parser_cli_spark.eval.metrics import METRIC_COLS, cell_metrics
from log_parser_cli_spark.plans.library_ops import (
    CSV_NULL as _CSV_NULL,
    write_failure_report,
    write_match_report,
)


def write_eval_reports(spark: SparkSession, labeled: DataFrame, out_dir: str) -> dict[str, str]:
    """Write the reference-shaped report sinks from a labeled run.

    ``labeled``: (line_no, source, rendered, pred_id) where pred_id is
    ``__UNPARSED__`` for failed lines. Matches go to a CSV with the
    reference's column names (report-writer.ts:19-50); failures to JSONL
    (report-writers.ts:39-56).
    """
    matches_path = os.path.join(out_dir, "matches_csv")
    failures_path = os.path.join(out_dir, "failures_jsonl")
    matched = labeled.filter(F.col("pred_id") != "__UNPARSED__").select(
        F.col("rendered").alias("raw_log"), F.col("pred_id").alias("template_id"),
        F.col("source").alias("template_placeholder"),  # carries the dataset id
    )
    write_match_report(matched, matches_path)
    failures = labeled.filter(F.col("pred_id") == "__UNPARSED__").select(
        F.col("line_no").alias("lineIndex"),
        F.col("rendered").alias("rawLog"),
        F.lit("head").alias("stage"),
        F.lit("head pattern did not match").alias("reason"),
        "source",
    )
    write_failure_report(failures, failures_path)
    return {"matches": matches_path, "failures": failures_path}


def eval_from_reports(spark: SparkSession, report_dir: str, gt: DataFrame) -> DataFrame:
    """Ingest report files, align to ground truth, emit per-dataset + macro
    metrics (one row per dataset, one ``__MACRO__`` row).

    ``gt``: (line_no, source, rendered, event_id). Returns columns
    (dataset, ga, …, purecoverage, coverage) — coverage is the matched
    fraction per dataset (failures count against it), macro rows are
    unweighted means (A8).
    """
    matches = (
        spark.read.option("header", True)
        .option("nullValue", _CSV_NULL)
        .csv(os.path.join(report_dir, "matches_csv"))
    )
    # explicit schema: an all-matched run writes an EMPTY failures sink,
    # which schema inference cannot read
    failures = spark.read.schema(
        "lineIndex long, rawLog string, stage string, reason string, source string"
    ).json(os.path.join(report_dir, "failures_jsonl"))

    # FIFO occurrence alignment (J5/W1): the k-th report row for a raw line
    # pairs with the k-th ground-truth line bearing that text, WITHIN the
    # dataset — identical rendered text in two sources must never cross-pair
    # (the report's template_placeholder column carries the dataset id)
    w_pred = Window.partitionBy("template_placeholder", "raw_log").orderBy("template_id")
    pred = matches.withColumn("occ", F.row_number().over(w_pred)).select(
        F.col("template_placeholder").alias("p_source"),
        F.col("raw_log"),
        F.col("template_id").alias("pred_id"),
        "occ",
    )
    w_gt = Window.partitionBy("source", "rendered").orderBy("line_no")
    gt_occ = gt.withColumn("occ", F.row_number().over(w_gt))
    aligned = pred.join(
        gt_occ,
        (pred["p_source"] == gt_occ["source"])
        & (pred["raw_log"] == gt_occ["rendered"])
        & (pred["occ"] == gt_occ["occ"]),
    )
    # ONE scan → per-dataset contingency cells (cardinality ~ clusters²)
    cells = aligned.groupBy(
        "source", F.col("pred_id").alias("pred"), F.col("event_id").alias("gt")
    ).agg(F.count("*").alias("cnt"))
    scored = spark.createDataFrame(
        cell_metrics(cells, ("source",)),
        "source string, " + ", ".join(f"{c} double" for c in METRIC_COLS) + ", total long",
    )
    # full join with the failure counts: a dataset where every line failed
    # must surface with 0 metrics and coverage 0, not vanish from the macro
    failed = failures.groupBy("source").agg(F.count("*").alias("failed"))
    per_source = scored.join(failed, "source", "full").fillna(0)
    coverage = F.col("total") / (F.col("total") + F.col("failed"))
    # ALL published rounding happens with Spark's HALF_UP round (matching
    # SQL engines); Python's round() is banker's rounding and can differ in
    # the 6th decimal on exact halves. Macro (A8) averages the published
    # per-dataset values.
    cols = [c.lower() for c in METRIC_COLS] + ["coverage"]
    per_ds_df = per_source.select(
        F.col("source").alias("dataset"),
        *[F.round(c, 6).alias(c.lower()) for c in METRIC_COLS],
        F.round(coverage, 6).alias("coverage"),
    )
    macro_df = per_ds_df.agg(
        F.lit("__MACRO__").alias("dataset"),
        *[F.round(F.avg(c), 6).alias(c) for c in cols],
    )
    return per_ds_df.unionByName(macro_df)
