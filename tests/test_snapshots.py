"""Snapshot commit protocol (plans/snapshots.py): atomicity, isolation,
optimistic concurrency, time travel, vacuum — the vendored stand-in for
SURVEY §2.1's Iceberg prescription on the K1/K5 sinks."""

import json
import os

import pytest

from log_parser_cli_spark.plans.snapshots import ConcurrentCommitError, SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "template_id string, source string, n long")


def test_commit_read_roundtrip_with_partitions(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    v = t.commit_overwrite(
        _df(spark, [("a#1", "a", 1), ("b#1", "b", 2)]), partition_by=("source",)
    )
    assert v == 0
    got = t.read(spark)
    assert {r.template_id for r in got.collect()} == {"a#1", "b#1"}
    assert "source" in got.columns  # partition column rediscovered


def test_append_accumulates_and_overwrite_replaces(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    t.commit_batch(_df(spark, [("b#1", "b", 2)]), batch_id=0)
    assert t.read(spark).count() == 2
    assert t.manifest()["operation"] == "append-batch"
    t.commit_overwrite(_df(spark, [("c#1", "c", 3)]))
    assert [r.template_id for r in t.read(spark).collect()] == ["c#1"]


def test_time_travel_reads_retained_versions(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    t.commit_overwrite(_df(spark, [("a#1", "a", 99)]))
    assert t.read(spark, version=0).first().n == 1
    assert t.read(spark, version=1).first().n == 99
    assert [m["version"] for m in t.history()] == [0, 1]


def test_crashed_stage_never_visible_and_vacuumed(spark, tmp_path):
    """A data dir with no manifest (crash before the commit point) is invisible
    to readers; vacuum collects it only once it outlives the orphan grace
    window — a FRESH never-referenced dir could equally be a concurrent
    committer's staged-not-yet-committed data (round-3 ADVICE race: winner's
    auto-vacuum must not delete the loser's staged dir)."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    orphan = os.path.join(root, "data-deadbeef0000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    assert t.read(spark).count() == 1  # reader sees only the committed snapshot
    # within the grace window: the default vacuum must leave it alone
    assert t.vacuum(keep_last=2) == []
    assert os.path.exists(orphan)
    # aged past the window (grace 0 simulates): collected
    removed = t.vacuum(keep_last=2, orphan_grace_s=0.0)
    assert "data-deadbeef0000" in removed
    assert not os.path.exists(orphan)


def test_vacuum_spares_concurrent_staged_dir_but_commits_survive(spark, tmp_path):
    """The full ADVICE scenario: committer B stages, committer A commits and
    auto-vacuums, then B commits — B's manifest must reference a dir that
    still exists. Expired-manifest dirs still collect immediately."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    staged, schema = t._stage(_df(spark, [("b#1", "b", 2)]), None)  # B stages...
    t.commit_overwrite(_df(spark, [("c#1", "c", 3)]))  # ...A commits v1...
    t.vacuum(keep_last=2)  # ...and auto-vacuums (default grace)
    v = t._try_commit(1, "append", t.manifest(1)["data_dirs"] + [staged], schema, {})  # B commits
    assert {r.template_id for r in t.read(spark, v).collect()} == {"c#1", "b#1"}
    # v0's dir is referenced only by an EXPIRED manifest after two more
    # commits → deleted with no grace needed
    t.commit_overwrite(_df(spark, [("d#1", "d", 4)]))
    t.commit_overwrite(_df(spark, [("e#1", "e", 5)]))
    removed = t.vacuum(keep_last=2)
    with pytest.raises(FileNotFoundError):
        t.manifest(0)
    assert removed  # superseded committed dirs collected immediately
    assert t.read(spark).first().template_id == "e#1"


def test_concurrent_commit_detected_at_commit_point(spark, tmp_path):
    """Exclusive manifest creation is the commit point: a racing committer that
    lost the version gets ConcurrentCommitError, while append rebases and
    survives."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    # another committer publishes v1 between our read and our publish
    with pytest.raises(ConcurrentCommitError):
        t._try_commit(
            parent=None, op="overwrite", data_dirs=["data-x"], schema=_df(spark, []).schema, summary={}
        )
    t.commit_overwrite(_df(spark, [("b#1", "b", 2)]))  # now at v1
    # append retries on top of the winner: both writes survive
    t.commit_batch(_df(spark, [("d#1", "d", 4)]), batch_id=0)
    assert {r.template_id for r in t.read(spark).collect()} == {"b#1", "d#1"}


def test_read_of_20_batch_dirs_submits_no_job(spark, tmp_path):
    """Every data dir is read under the manifest's schema, so a snapshot of
    20 ``commit_batch`` dirs reads with no schema-inference job, and its rows
    are the union of the batches'."""
    from test_pipeline import _jobs_of

    t = SnapshotTable(str(tmp_path / "t"))
    batches = [[(f"t{b}#{i}", f"s{b % 3}", b * 10 + i) for i in range(2)] for b in range(20)]
    for b, rows in enumerate(batches):
        t.commit_batch(_df(spark, rows), batch_id=b, partition_by=("source",))
    got, jobs = _jobs_of(spark, "snapshot-read", lambda: t.read(spark))
    assert jobs == []
    assert len(t.manifest()["data_dirs"]) == 20
    assert got.columns == ["template_id", "n", "source"]  # partition column last
    want = {(tid, src, n) for rows in batches for tid, src, n in rows}
    assert {(r.template_id, r.source, r.n) for r in got.collect()} == want


def test_commit_batch_rejects_other_column_types(spark, tmp_path):
    """A batch whose columns differ in type from the parent snapshot's raises
    before the commit point, instead of failing every later read."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_batch(_df(spark, [("a#1", "a", 1)]), batch_id=0)
    other = spark.createDataFrame([("b#1", "b", "2")], "template_id string, source string, n string")
    with pytest.raises(ValueError, match="n:string"):
        t.commit_batch(other, batch_id=1)
    assert t.current_version() == 0
    assert [r.template_id for r in t.read(spark).collect()] == ["a#1"]


def test_read_rejects_a_manifest_without_schema(spark, tmp_path):
    """A v1 manifest records no schema; reading it raises, naming its format,
    rather than inferring one."""
    t = SnapshotTable(str(tmp_path / "t"))
    v = t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    path = t._manifest_path(v)
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    m["format"] = "lpcs-snapshot-v1"
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="lpcs-snapshot-v1"):
        t.read(spark)


def test_commit_batch_retry_replaces_own_output(spark, tmp_path):
    """Idempotent micro-batch commits: a retried batch_id replaces its own
    prior dir (no duplicate rows under at-least-once foreachBatch), and a
    stage-only crash leaves readers on the last committed snapshot."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_batch(_df(spark, [("a#1", "a", 1)]), batch_id=0)
    t.commit_batch(_df(spark, [("b#1", "b", 2)]), batch_id=1)
    assert t.read(spark).count() == 2
    t.commit_batch(_df(spark, [("b#1", "b", 2)]), batch_id=1)  # retry
    got = {(r.template_id, r.n) for r in t.read(spark).collect()}
    assert got == {("a#1", 1), ("b#1", 2)}
    assert t.manifest()["summary"]["batch_id"] == 1
    t._stage(_df(spark, [("c#1", "c", 3)]), None)  # crash before commit point
    assert {r.template_id for r in t.read(spark).collect()} == {"a#1", "b#1"}


def test_vacuum_retains_snapshot_committed_during_scan(spark, tmp_path, monkeypatch):
    """Round-4 ADVICE (medium): a snapshot committed by a concurrent writer
    BETWEEN vacuum's current_version() sample and its manifest scan has
    version > the sampled current — it must be treated as retained, not
    rmtree'd as an expired-manifest dir (it is the table's NEWEST snapshot)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))  # v0
    real_cv = SnapshotTable.current_version
    fired = {"done": False}

    def racy_cv(self):
        v = real_cv(self)
        if not fired["done"]:
            fired["done"] = True
            # concurrent committer publishes v1 right after the sample
            staged, schema = t._stage(_df(spark, [("b#1", "b", 2)]), None)
            t._try_commit(v, "overwrite", [staged], schema, {})
        return v

    monkeypatch.setattr(SnapshotTable, "current_version", racy_cv)
    t.vacuum(keep_last=1)
    monkeypatch.undo()
    # v1 (newer than the stale sample) kept its data — the table is readable
    assert t.current_version() == 1
    assert t.read(spark).first().template_id == "b#1"


def test_vacuum_skips_foreign_json_in_manifest_dir(spark, tmp_path):
    """Round-4 ADVICE (low): a non-manifest .json dropped into _snapshots/
    (including a look-alike ``v1.json``) must not make vacuum or history
    raise ValueError, nor count as a version."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    for n in range(3):
        t.commit_overwrite(_df(spark, [("a#1", "a", n)]))
    foreign = [os.path.join(root, "_snapshots", n) for n in ("notes.json", "v1.json")]
    for path in foreign:
        with open(path, "w") as f:
            json.dump({"foreign": True}, f)
    t.vacuum(keep_last=2)  # must not raise
    assert all(map(os.path.exists, foreign))  # and must not delete what it doesn't own
    assert t.read(spark).first().n == 2
    assert [m["version"] for m in t.history()] == [1, 2]


def test_vacuum_clamps_nonpositive_retention(spark, tmp_path):
    """keep_last <= 0 must never vacuum the CURRENT snapshot's data."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [("a#1", "a", 1)]))
    t.vacuum(keep_last=0)
    assert t.read(spark).count() == 1


def test_merge_upserts_by_key(spark, tmp_path):
    """MERGE INTO stand-in (K5): same-key rows replaced, new keys union."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [("a#1", "a", 1), ("b#1", "b", 2)]))
    t.merge(spark, _df(spark, [("a#1", "a", 100), ("c#1", "c", 3)]))
    got = {r.template_id: r.n for r in t.read(spark).collect()}
    assert got == {"a#1": 100, "b#1": 2, "c#1": 3}
    assert t.manifest()["operation"] == "merge"


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    for n in range(4):
        t.commit_overwrite(_df(spark, [("a#1", "a", n)]))
    t.vacuum(keep_last=2)
    assert t.read(spark, version=3).first().n == 3
    assert t.read(spark, version=2).first().n == 2
    with pytest.raises(FileNotFoundError):
        t.manifest(0)
    # only the two retained data dirs remain on disk
    data_dirs = [d for d in os.listdir(root) if d.startswith("data-")]
    assert len(data_dirs) == 2


def test_cli_time_travel_and_vacuum_roundtrip(spark, fixture_dir, pipeline_out, tmp_path, capsys):
    """jobs.py maintenance surface: after a re-route overwrites the routed
    table (v0 → v1), --read-snapshot 0 still reads the previous snapshot
    (time travel), and --vacuum 1 expires it — the table-level twin of the
    reference's replay-from-chunks story."""
    import argparse

    from log_parser_cli_spark import jobs
    from log_parser_cli_spark.plans.pipeline import read_routed, run_replay

    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "out")
    n0 = run_replay(spark, fixture_dir, out, mapping)  # commits v0
    run_replay(spark, fixture_dir, out, mapping)  # overwrites → v1
    t = SnapshotTable(os.path.join(out, "routed"))
    assert t.current_version() == 1

    rc = jobs._maintenance(
        spark, argparse.Namespace(out=out, vacuum=None, read_snapshot=0)
    )
    assert rc == 0
    assert f"rows={n0}" in capsys.readouterr().out

    jobs._maintenance(spark, argparse.Namespace(out=out, vacuum=1, read_snapshot=None))
    assert "vacuumed to last 1 snapshots" in capsys.readouterr().out
    assert read_routed(spark, out).count() == n0  # current stays readable
    with pytest.raises(FileNotFoundError):
        t.manifest(0)  # expired by retention
    # a version that never existed reports cleanly
    rc = jobs._maintenance(
        spark, argparse.Namespace(out=out, vacuum=None, read_snapshot=7)
    )
    assert rc == 1


def test_read_routed_raises_on_plain_layout(spark, tmp_path):
    """Every routed writer commits through SnapshotTable: a plain parquet dir
    under routed/ has no committed snapshot, so it is no table to read."""
    from log_parser_cli_spark.plans.pipeline import read_routed, routed_data_dirs

    out = str(tmp_path / "legacy")
    _df(spark, [("a#1", "a", 1)]).write.parquet(os.path.join(out, "routed"))
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        read_routed(spark, out)
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        routed_data_dirs(out)


def test_routed_sink_is_snapshot_committed(spark, pipeline_out):
    """The pipeline's K1 fan-out goes through the snapshot protocol: a
    committed manifest references every live data dir, and the legacy mixed
    layout (partition dirs at the table root) is gone."""
    root = os.path.join(pipeline_out, "routed")
    assert SnapshotTable.is_snapshot_dir(root)
    m = SnapshotTable(root).manifest()
    assert m["operation"] == "overwrite" and m["format"] == "lpcs-snapshot-v2"
    for d in m["data_dirs"]:
        assert os.path.isdir(os.path.join(root, d))
    assert not any(d.startswith("sink=") for d in os.listdir(root))
    assert SnapshotTable(root).current_version() == m["version"]
    json.dumps(m)  # manifest is plain JSON end to end
