"""Template-library export: Drain mapping → ⟪⟫-regex library (reference
artifact parity) with the reconstruction + full-line-match invariants."""

import os
import re

import pyspark.sql.functions as F

from log_parser_cli_spark.functions.templates import extract_variables_from_template
from log_parser_cli_spark.operators.matcher import match_templates
from log_parser_cli_spark.operators.parse import parse_stage
from log_parser_cli_spark.plans.export import export_template_library, placeholder_from_star
from log_parser_cli_spark.plans.pipeline import enrich_stage, load_dims


def test_placeholder_from_star_embeds_values():
    assert (
        placeholder_from_star("served block 42 to alpha", "served block <*> to <*>")
        == "served block ⟪42⟫ to ⟪alpha⟫"
    )
    # prefix/suffix literals around the star survive
    assert placeholder_from_star("blk_123 gone", "blk_<*> gone") == "blk_⟪123⟫ gone"
    assert placeholder_from_star("cost=77 ms", "cost=<*> ms") == "cost=⟪77⟫ ms"
    # zero-variable template passes through untouched
    assert placeholder_from_star("proxy list updated", "proxy list updated") == "proxy list updated"


def _library(spark, fixture_dir, pipeline_out):
    vocab_rows, source_heads, sinks = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    parsed = parse_stage(spark, seq, vocab_rows, source_heads)
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    enriched = enrich_stage(parsed, mapping, sinks)
    return parsed, export_template_library(spark, enriched)


def test_exported_library_invariants(spark, fixture_dir, pipeline_out):
    """Every exported template reconstructs its sample byte-exactly (F2) and
    its anchored pattern full-matches the sample (P8)."""
    _parsed, library = _library(spark, fixture_dir, pipeline_out)
    assert len(library) >= 40
    for t in library:
        ex = extract_variables_from_template(t["placeholder_template"])
        rx = re.compile(t["pattern"])
        m = rx.match(ex.reconstructed)
        assert m is not None and m.end() == len(ex.reconstructed), t["template_id"]
        assert list(m.groupdict()) == t["variables"]


def test_exported_library_reproduces_signature_assignment(spark, fixture_dir, pipeline_out):
    """Matching with the EXPORTED regexes assigns every row to the same
    cluster (by star) as the signature pipeline — the two artifacts are
    interchangeable."""
    parsed, library = _library(spark, fixture_dir, pipeline_out)
    star_of = {t["template_id"]: t["template_star"] for t in library}
    matched = match_templates(spark, parsed, library)
    got = {
        (r.source, star_of.get(r.template_id, "")): r.n
        for r in matched.filter(F.col("template_id").isNotNull())
        .groupBy("source", "template_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    expect = {
        (r.source, r.event_template): r.n
        for r in gt.filter(F.col("head_matched"))
        .groupBy("source", "event_template")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect
