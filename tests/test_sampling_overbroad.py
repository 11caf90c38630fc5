"""Diverse sampling (O5), compression-gain detection (A10), duplication fixer (F6)."""

import pyspark.sql.functions as F

from log_parser_cli_spark.extras.overbroad import compression_gain_stats
from log_parser_cli_spark.extras.sampling import jaccard_distance, k_center_select
from log_parser_cli_spark.functions.templates import fix_duplicated_variables


def test_k_center_prefers_diverse_lines():
    lines = ["error disk full on node a"] * 8 + [
        "user login from remote host",
        "cache evicted entries count high",
    ]
    picked = k_center_select(lines, k=3)
    assert "user login from remote host" in picked
    assert "cache evicted entries count high" in picked
    assert len(picked) == 3


def test_k_center_stops_at_zero_distance():
    picked = k_center_select(["same line"] * 10, k=5)
    assert picked == ["same line"]


def test_jaccard_distance():
    a = frozenset({"a", "b"})
    assert jaccard_distance(a, a) == 0.0
    assert jaccard_distance(a, frozenset({"c"})) == 1.0


def test_compression_gain_flags_overbroad(spark):
    # t#1: tight template, variables are short numbers → high gain
    # t#2: "overbroad" — the variable swallows most of the line → low gain
    rows = []
    for i in range(50):
        rows.append((f"d{i:03d}", "t#1", f"served block {i} to client {i*7}", "served block <*> to client <*>", [str(i), str(i * 7)]))
        rows.append((f"e{i:03d}", "t#2", f"payload variant-{i}-alpha-beta-gamma-{i*13}-delta", "payload <*>", [f"variant-{i}-alpha-beta-gamma-{i*13}-delta"]))
    df = spark.createDataFrame(
        rows, "doc_id string, template_id string, content string, template_star string, word_vars array<string>"
    )
    got = {r.template_id: r for r in compression_gain_stats(df).collect()}
    assert got["t#1"].compression_gain > got["t#2"].compression_gain
    assert not got["t#1"].overbroad
    assert got["t#1"].n_rows == 50


def test_overbroad_report_persists_top_n(spark, tmp_path, monkeypatch):
    rows = []
    for i in range(30):
        rows.append((f"d{i:03d}", "t#ok", f"served block {i}", "served block <*>", [str(i)]))
        rows.append((f"e{i:03d}", "t#bad", f"payload x-{i}-y-{i*7}-z", "payload <*>", [f"x-{i}-y-{i*7}-z"]))
        rows.append((f"f{i:03d}", "t#bad2", f"blob q{i}w{i*3}e{i*9}r", "blob <*>", [f"q{i}w{i*3}e{i*9}r"]))
    df = spark.createDataFrame(
        rows, "doc_id string, template_id string, content string, template_star string, word_vars array<string>"
    )
    from log_parser_cli_spark.extras import overbroad

    monkeypatch.setattr(overbroad, "REPORT_TOP_N", 1)
    path = overbroad.write_overbroad_report(df, str(tmp_path))
    report = spark.read.json(path).collect()
    assert len(report) == 1  # top-N slice applied
    assert report[0].overbroad and report[0].template_id in ("t#bad", "t#bad2")


def test_routed_content_reconstruction_is_exact(spark, fixture_dir, pipeline_out):
    """(content, word_vars) rebuilt from routed (template_star, variables)
    equals the parse stage's content byte-for-byte for every matched row."""
    import os

    from log_parser_cli_spark.extras.overbroad import routed_for_overbroad
    from log_parser_cli_spark.operators.parse import parse_stage
    from log_parser_cli_spark.plans.pipeline import load_dims, read_routed

    routed = read_routed(spark, pipeline_out)
    rebuilt = routed_for_overbroad(routed).select("doc_id", F.col("content").alias("rc"))
    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    parsed = parse_stage(spark, seq, vocab_rows, source_heads).select("doc_id", "content")
    diff = rebuilt.join(parsed, "doc_id").filter(F.col("rc") != F.col("content"))
    assert diff.count() == 0, diff.take(3)


def test_fix_duplicated_variables():
    fixed, tpl = fix_duplicated_variables("User ⟪johnjohn⟫ in", "User john in")
    assert fixed and tpl == "User ⟪john⟫ in"
    # no repair possible → untouched
    fixed2, tpl2 = fix_duplicated_variables("User ⟪jane⟫ in", "User john in")
    assert not fixed2 and tpl2 == "User ⟪jane⟫ in"
    # doubling that is actually correct in the raw line stays unfixed
    fixed3, tpl3 = fix_duplicated_variables("x ⟪abab⟫ y", "x abab y")
    assert not fixed3
