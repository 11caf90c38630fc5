"""Deterministic head-pattern derivation + refine loop (manager.ts:83-186)."""

import os
import re

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F

from log_parser_cli_spark.operators import head_derive
from log_parser_cli_spark.operators.head_derive import (
    pool_lines,
    propose_head_pattern,
    refine_head_pattern,
)
from log_parser_cli_spark.operators.matcher import compile_regex, first_match


def _gt_lines_by_source(spark, fixture_dir):
    gt = (
        spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
        .select("source", "line_no", "rendered", "head_matched")
        .collect()
    )
    per_src = {}
    for r in sorted(gt, key=lambda r: r.line_no):
        per_src.setdefault(r.source, []).append(r)
    return per_src


def test_derived_patterns_cover_exactly_head_matchable(spark, fixture_dir):
    """For every fixture source the derived pattern matches ALL head-matchable
    lines (100% coverage) and NO noise lines."""
    for src, rows in _gt_lines_by_source(spark, fixture_dir).items():
        pattern, _, _ = refine_head_pattern(pool_lines([(r.line_no, r.rendered) for r in rows]))
        assert pattern is not None, src
        rx = re.compile(pattern)
        for r in rows:
            assert bool(rx.match(r.rendered)) == r.head_matched, (src, r.rendered, pattern)


def test_refine_history_is_monotone_nonincreasing(monkeypatch):
    """keep-best: the unmatched count never increases across rounds."""
    # one template visible in the seed, a second shape only in the tail —
    # forces at least one refine round to generalize the timestamp literal
    lines = [f"2024-01-01T00:00:00 INFO pid=1 alpha message {i}" for i in range(50)]
    lines += [f"2024-{m:02d}-02T03:04:05 WARN pid=77 beta other text" for m in range(1, 13)]
    monkeypatch.setattr(head_derive, "SEED_SAMPLES", 2)
    pattern, n_unmatched, history = refine_head_pattern(lines)
    assert pattern is not None
    assert n_unmatched == 0
    assert history == sorted(history, reverse=True)


def test_majority_group_resists_noise():
    """A minority of garbage lines must not collapse the head to zero width."""
    good = [f"10:0{i % 10}:00 INFO core started worker {i}" for i in range(40)]
    noise = ["### corrupted ??? frame", "@@@@ stray void segment"] * 3
    pattern, _, _ = refine_head_pattern(good + noise)
    assert pattern is not None
    rx = re.compile(pattern)
    assert all(rx.match(g) for g in good)
    assert not any(rx.match(n) for n in noise)


def test_boundary_zero_returns_none():
    """Pure lowercase-word lines have no head structure to derive."""
    assert propose_head_pattern(["alpha beta gamma", "delta echo foxtrot"]) is None


def test_derived_heads_are_dropin_for_parse_stage(spark, fixture_dir):
    """parse_stage driven by DERIVED patterns reproduces the configured heads'
    head_matched flags exactly (content group 1 = (?P<content>...))."""
    from log_parser_cli_spark.operators.parse import parse_stage

    per_src = _gt_lines_by_source(spark, fixture_dir)
    derived = {}
    for src, rows in per_src.items():
        pattern, _, _ = refine_head_pattern(pool_lines([(r.line_no, r.rendered) for r in rows]))
        derived[src] = (pattern, 1)
    vocab_rows = [
        (int(r.token_id), r.text)
        for r in spark.read.parquet(os.path.join(fixture_dir, "vocab.parquet")).collect()
    ]
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    parsed = parse_stage(spark, seq, vocab_rows, derived)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet")).select(
        "doc_id", F.col("head_matched").alias("gt_matched")
    )
    diff = parsed.join(gt, "doc_id").filter(F.col("head_matched") != F.col("gt_matched"))
    assert diff.count() == 0


def test_pipeline_with_derived_heads_matches_configured(spark, fixture_dir, pipeline_out, tmp_path):
    """Full pipeline with derive_heads=True (no head config consumed)
    reproduces the configured-heads run's per-sink counts exactly."""
    from log_parser_cli_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "derived_run")
    run_pipeline(spark, fixture_dir, out, run_id="derived", derive_heads=True,
                 checkpoint_parse=False)
    mine = {
        (r.source, r.template_star): r.n_sequences
        for r in spark.read.parquet(os.path.join(out, "sink_counts"))
        .groupBy("source", "template_star")
        .agg(F.sum("n_sequences").alias("n_sequences"))
        .collect()
    }
    ref = {
        (r.source, r.template_star): r.n_sequences
        for r in spark.read.parquet(os.path.join(pipeline_out, "sink_counts"))
        .groupBy("source", "template_star")
        .agg(F.sum("n_sequences").alias("n_sequences"))
        .collect()
    }
    assert mine == ref


def test_non_ascii_digit_heads_score_as_the_kernel_matches():
    """Words are classified in ASCII and candidates scored through the
    kernel: on heads of Arabic-Indic digits the derived head is None, or
    ``first_match`` claims exactly the pool lines the refine loop counted
    as matched (no ``\\d+`` head that scores every line and matches none)."""
    arabic = str.maketrans("0123456789", "٠١٢٣٤٥٦٧٨٩")
    lines = [f"{str(10 + 7 * i).translate(arabic)} INFO worker {i % 4} started" for i in range(20)]
    pattern, n_unmatched, _ = refine_head_pattern(lines)
    if pattern is None:
        return
    regex = compile_regex(pattern, False)
    won = [list(rows) for _, rows, _ in first_match(pa.array(lines), np.arange(len(lines)), [regex])]
    claimed = won[0] if won else []
    assert claimed == [i for i, ln in enumerate(lines) if regex.rx.match(ln)]
    assert len(claimed) == len(lines) - n_unmatched


def test_stride_pool_collect_twin_of_pool_lines(spark, fixture_dir, monkeypatch):
    """The distributed pool (map-side hash filter + residue-only sort) must
    equal the pure-Python twin exactly, including when n > POOL_SIZE forces
    the hash-thinned path — the oracle-portability contract."""
    from log_parser_cli_spark.operators.head_derive import pool_lines, stride_pool_collect

    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet")).select(
        "source", "line_no", "rendered"
    )
    pool_size = 50  # fixture sources have hundreds of rows → hash path
    monkeypatch.setattr(head_derive, "POOL_SIZE", pool_size)
    pools = stride_pool_collect(gt, "source", "line_no", ["rendered"])
    rows = sorted(gt.collect(), key=lambda r: r.line_no)
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append((r.line_no, r.rendered))
    assert set(pools) == set(per_src)
    for src, items in per_src.items():
        expect = pool_lines(items)
        got = [ln for _no, ln in pools[src]]
        assert got == expect, src
        assert 0 < len(got) <= pool_size
