"""Library maintenance ops: upsert, orphan re-queue, conflicts, report sinks
(K2, K4, K5, E2, E3, J3)."""

from log_parser_cli_spark.plans.library_ops import (
    detect_conflicts,
    exclude_seen,
    merge_templates,
    requeue_orphans,
    write_failure_report,
    write_match_report,
)


def test_merge_templates_upsert(spark):
    existing = spark.createDataFrame(
        [("t#1", "old pattern"), ("t#2", "keep me")], "template_id string, pattern string"
    )
    updates = spark.createDataFrame(
        [("t#1", "new pattern"), ("t#3", "brand new")], "template_id string, pattern string"
    )
    got = {r.template_id: r.pattern for r in merge_templates(existing, updates).collect()}
    assert got == {"t#1": "new pattern", "t#2": "keep me", "t#3": "brand new"}


def test_requeue_orphans(spark):
    matches = spark.createDataFrame(
        [("d1", "t#1", "a"), ("d2", "t#2", "b"), ("d3", "t#1", "c")],
        "doc_id string, template_id string, content string",
    )
    kept, orphans = requeue_orphans(matches, ["t#1"])
    assert {r.doc_id for r in kept.collect()} == {"d2"}
    assert {r.doc_id for r in orphans.collect()} == {"d1", "d3"}


def test_exclude_seen(spark):
    cands = spark.createDataFrame([("x",), ("y",), ("z",)], "content string")
    seen = spark.createDataFrame([("y",)], "content string")
    assert {r.content for r in exclude_seen(cands, seen).collect()} == {"x", "z"}


def test_detect_conflicts(spark):
    samples = spark.createDataFrame(
        [
            ("t#1", "served 12 blocks"),
            ("t#1", "served 99 blocks"),
            ("t#2", "error 5 raised"),
            ("t#3", "unrelated line"),
        ],
        "template_id string, content string",
    )
    # candidate (t#9) is overbroad: matches t#1's and t#2's samples
    conflicts = detect_conflicts(samples, "t#9", r"^(?P<v1>[a-z]+) (?P<v2>\d+) (?P<v3>[a-z]+)$")
    got = {r.template_id: r.n_conflicts for r in conflicts.collect()}
    assert got == {"t#1": 2, "t#2": 1}


def test_conflicts_ignore_own_samples(spark):
    samples = spark.createDataFrame(
        [("t#9", "served 12 blocks")], "template_id string, content string"
    )
    assert detect_conflicts(samples, "t#9", r"^served \d+ blocks$").count() == 0


def test_conflicts_are_full_line_matches(spark):
    """A conflict means the candidate would claim the whole line, as in the
    matcher: an unanchored pattern that only finds a substring of a sample
    conflicts with nothing."""
    samples = spark.createDataFrame(
        [("s#seed", "alpha 3 ok"), ("s#seed", "alpha 4 ok"), ("s#2", "alpha 5")],
        "template_id string, content string",
    )
    conflicts = detect_conflicts(samples, "s#1", r"alpha (?P<v1>\d+)")
    assert {r.template_id: r.n_conflicts for r in conflicts.collect()} == {"s#2": 1}


def test_report_sinks(spark, tmp_path):
    matched = spark.createDataFrame(
        [("raw a", "t#1", "tpl <*>")], "raw_log string, template_id string, template_placeholder string"
    )
    write_match_report(matched, str(tmp_path / "matches"))
    back = spark.read.option("header", True).csv(str(tmp_path / "matches"))
    assert back.count() == 1 and back.columns == ["raw_log", "template_id", "template_placeholder"]

    failures = spark.createDataFrame(
        [(3, "bad line", "parse", "head pattern did not match")],
        "line_index long, raw_log string, stage string, reason string",
    )
    write_failure_report(failures, str(tmp_path / "failures"))
    back = spark.read.json(str(tmp_path / "failures"))
    assert back.count() == 1 and back.first().stage == "parse"
