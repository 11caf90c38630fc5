"""Checkpoint/resume semantics (T3/T4): kill after stage N, rerun, identical
final aggregates."""

import json
import os

import pytest

from log_parser_cli_spark.plans import pipeline as P
from log_parser_cli_spark.plans.pipeline import run_pipeline


def _counts(spark, out):
    rows = (
        spark.read.parquet(os.path.join(out, "sink_counts"))
        .orderBy("source", "template_id")
        .collect()
    )
    return [(r.source, r.template_id, r.n_sequences) for r in rows]


def test_resume_after_kill_mid_pipeline(spark, fixture_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "out")

    # Kill the run at the route stage (parse + discover committed).
    real_route = P.route_stage

    def exploding_route(*a, **k):
        raise RuntimeError("simulated executor loss")

    monkeypatch.setattr(P, "route_stage", exploding_route)
    with pytest.raises(RuntimeError, match="simulated"):
        run_pipeline(spark, fixture_dir, out, run_id="r1")
    monkeypatch.setattr(P, "route_stage", real_route)

    # Manifest shows the committed prefix.
    from log_parser_cli_spark.plans.checkpoint import Manifest

    m = Manifest(out, "r1")
    assert m.is_done("parse") and m.is_done("discover") and not m.is_done("route")

    # Resume completes without re-running parse/discover.
    res = run_pipeline(spark, fixture_dir, out, run_id="r1", resume=True)
    assert "parse" in res.stages_skipped and "discover" in res.stages_skipped
    assert "route" in res.stages_run and "aggregate" in res.stages_run

    # Aggregates identical to a clean one-shot run.
    clean = str(tmp_path / "clean")
    run_pipeline(spark, fixture_dir, clean, run_id="r2")
    assert _counts(spark, out) == _counts(spark, clean)


def test_resume_noop_when_all_committed(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "out2")
    run_pipeline(spark, fixture_dir, out, run_id="r1")
    res = run_pipeline(spark, fixture_dir, out, run_id="r1", resume=True)
    assert res.stages_run == []
    assert set(res.stages_skipped) == {"parse", "discover", "route", "aggregate"}


def test_match_only_replay_with_frozen_mapping(spark, fixture_dir, tmp_path):
    """--match-only analog: second corpus pass against a frozen mapping gives
    the same counts (the reference's replay phase, replay-matcher.ts:40-111)."""
    out1 = str(tmp_path / "discover_run")
    run_pipeline(spark, fixture_dir, out1, run_id="r1")
    mapping = spark.read.parquet(os.path.join(out1, "template_mapping"))

    out2 = str(tmp_path / "match_only_run")
    run_pipeline(spark, fixture_dir, out2, run_id="r2", mapping_df=mapping)
    assert _counts(spark, out1) == _counts(spark, out2)


def test_resume_refuses_a_manifest_from_other_code(spark, fixture_dir, tmp_path):
    """A manifest other engine code committed is never resumed (its parsed/
    and template_mapping/ would be stale); this code's first commit drops it."""
    from log_parser_cli_spark.plans.checkpoint import Manifest, source_digest

    out = str(tmp_path / "foreign")
    os.makedirs(out)
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        json.dump({"run_id": "r1", "source_digest": "0123456789ab", "stages": {"parse": {}}}, f)
    with pytest.raises(ValueError, match=f"0123456789ab.*{source_digest()}"):
        run_pipeline(spark, fixture_dir, out, run_id="r1", resume=True)
    Manifest(out, "r1").commit("route")
    m = Manifest(out, "r1")
    assert m.digest == source_digest() and m.is_done("route") and not m.is_done("parse")
