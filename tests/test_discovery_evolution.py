"""Discovery refine loop (conflict → delete → requeue → re-match), bounded
driver discovery, and incremental library evolution across batches."""

import os

import pyspark.sql.functions as F

from log_parser_cli_spark.plans import library_ops, pipeline
from log_parser_cli_spark.plans.library_ops import discover_with_refine
from log_parser_cli_spark.plans.pipeline import discover_templates, extend_mapping


def _pending(owner):
    return sorted(d for d, t in owner.items() if t is None)


def test_refine_loop_deletes_overbroad_seed_and_reassigns():
    """An overbroad seed template that stole another cluster's rows ends
    DELETED; its orphans re-queue and re-match against the accepted candidate
    (pipeline.ts:355-451 + 561-612 semantics). Counts checked against an
    inline pure-Python oracle."""
    rows = (
        [(f"a{i:02d}", "s", f"alpha {i} ok") for i in range(10)]
        + [(f"b{i:02d}", "s", f"beta {i} done") for i in range(6)]
        + [(f"g{i:02d}", "s", f"gamma sent {i}") for i in range(4)]
    )

    # overbroad seed: swallows both alpha and beta rows
    seed = {
        "template_id": "s#seed",
        "source": "s",
        "pattern": r"^[a-z]+ (?P<v1>\d+) [a-z]+$",
        "created_at": 1,
    }
    seeded = discover_with_refine([seed], rows, [])["owner"]
    assert sum(t is not None for t in seeded.values()) == 16  # alpha + beta
    assert len(_pending(seeded)) == 4  # gamma

    candidate = {
        "template_id": "s#1",
        "source": "s",
        "pattern": r"^alpha (?P<v1>\d+) ok$",
        "created_at": 2,
    }
    result = discover_with_refine([seed], rows, [candidate])
    (report,) = result["reports"]

    assert report["accepted"]
    assert report["deleted_ids"] == ["s#seed"]
    assert [t["template_id"] for t in result["library"]] == ["s#1"]
    # pure-Python oracle: candidate owns exactly the 10 alpha rows; beta's 6
    # orphans + gamma's 4 return to pending
    owned = {d: t for d, t in result["owner"].items() if t is not None}
    assert owned == {f"a{i:02d}": "s#1" for i in range(10)}
    assert len(owned) == 10
    assert len(_pending(result["owner"])) == 10
    assert {d[0] for d in _pending(result["owner"])} == {"b", "g"}


def test_refine_loop_rejects_unresolvable_candidate(monkeypatch):
    """A candidate that conflicts with a template whose samples it cannot
    release (self-conflict via identical ownership each round) hits the
    iteration cap and is rejected; orphans stay pending."""
    rows = [(f"x{i}", "s", f"item {i} ok") for i in range(5)]
    t1 = {
        "template_id": "s#1",
        "source": "s",
        "pattern": r"^item (?P<v1>\d+) ok$",
        "created_at": 1,
    }

    # candidate overlaps everything t1 owns
    candidate = {
        "template_id": "s#2",
        "source": "s",
        "pattern": r"^item (?P<v1>[^\r\n]*) ok$",
        "created_at": 2,
    }

    # conflict → t1 deleted → accept on re-check (sanity of the accept path)
    (r1,) = discover_with_refine([t1], rows, [candidate])["reports"]
    assert r1["accepted"] and r1["deleted_ids"] == ["s#1"]

    # iteration-cap exhaustion path: with a zero budget the candidate is
    # rejected outright and the library is untouched
    monkeypatch.setattr(library_ops, "MAX_ITERATIONS", 0)
    r2 = discover_with_refine([t1], rows, [candidate])
    assert not r2["reports"][0]["accepted"]
    assert [t["template_id"] for t in r2["library"]] == ["s#1"]


def test_discover_with_refine_processes_candidate_queue():
    """Sequential candidate queue (pipeline.ts:130-165): candidate 1 deletes
    the overbroad seed and claims its rows; candidate 2 then claims the beta
    orphans that returned to pending; gamma rows remain pending."""
    rows = (
        [(f"a{i:02d}", "s", f"alpha {i} ok") for i in range(8)]
        + [(f"b{i:02d}", "s", f"beta {i} done") for i in range(5)]
        + [(f"g{i:02d}", "s", f"gamma sent {i}") for i in range(3)]
    )
    seed = {
        "template_id": "s#seed",
        "source": "s",
        "pattern": r"^[a-z]+ (?P<v1>\d+) [a-z]+$",
        "created_at": 1,
    }
    candidates = [
        {"template_id": "s#1", "source": "s", "pattern": r"^alpha (?P<v1>\d+) ok$", "created_at": 2},
        {"template_id": "s#2", "source": "s", "pattern": r"^beta (?P<v1>\d+) done$", "created_at": 3},
    ]
    result = discover_with_refine([seed], rows, candidates)
    assert [r["accepted"] for r in result["reports"]] == [True, True]
    assert result["reports"][0]["deleted_ids"] == ["s#seed"]
    assert result["reports"][1]["deleted_ids"] == []
    assert sorted(t["template_id"] for t in result["library"]) == ["s#1", "s#2"]
    owned = [d for d, t in result["owner"].items() if t is not None]
    assert {d[0] for d in owned} == {"a", "b"}
    assert len(owned) == 13
    assert {d[0] for d in _pending(result["owner"])} == {"g"}


def test_refine_conflicts_are_full_line_matches():
    """A candidate that matches a seed's samples only as a substring would
    claim none of them: no conflict, the seed survives, and the candidate
    claims only the pending lines it matches whole."""
    rows = [(f"a{i}", "s", f"alpha {i} ok") for i in range(3)] + [("p0", "s", "alpha 7")]
    seed = {"template_id": "s#seed", "source": "s", "pattern": r"^alpha (?P<v1>\d+) ok$", "created_at": 1}
    candidate = {"template_id": "s#1", "source": "s", "pattern": r"alpha (?P<v1>\d+)", "created_at": 2}
    result = discover_with_refine([seed], rows, [candidate])
    assert result["reports"] == [
        {"template_id": "s#1", "accepted": True, "deleted_ids": [], "iterations": 1}
    ]
    assert sorted(t["template_id"] for t in result["library"]) == ["s#1", "s#seed"]
    assert result["owner"] == {"a0": "s#seed", "a1": "s#seed", "a2": "s#seed", "p0": "s#1"}


def test_discovery_driver_set_is_bounded(spark, monkeypatch):
    """A pathological source with far more distinct signatures than the cap
    completes with a bounded driver set; overflow rows get no mapping."""
    n = 5000
    rows = [(f"doc-{i:06d}", "weird", f"evt unique_{i}_token payload", "evt", True) for i in range(n)]
    parsed = spark.createDataFrame(
        rows, "doc_id string, source string, content_sig string, content string, head_matched boolean"
    ).withColumn("content_sig", F.concat(F.lit("evt word"), F.col("doc_id")))
    monkeypatch.setattr(pipeline, "MAX_SIGNATURES_PER_SOURCE", 200)
    mapping = discover_templates(spark, parsed)
    assert mapping.count() <= 200
    # deterministic: same cap twice → identical mapping
    mapping2 = discover_templates(spark, parsed)
    assert sorted(map(tuple, mapping.collect())) == sorted(map(tuple, mapping2.collect()))


def test_extend_mapping_keeps_ids_stable_and_appends_dense(spark, fixture_dir, pipeline_out):
    """Two-batch evolution: batch-1 mapping rows pass through byte-identical;
    genuinely novel batch-2 signatures append with dense source#N+1 ids;
    star-compatible novel signatures map to EXISTING ids."""
    frozen = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    frozen_rows = sorted(map(tuple, frozen.collect()))

    # pick an existing cluster with a <*> at a plain-word position and invent
    # a sig with an unseen word there — guaranteed novel AND star-compatible
    wild = next(
        r for r in frozen_rows if r[0] == "proxifier" and "resolve <*> dot com" in r[3]
    )
    compat_sig = wild[3].replace("<*>", "zulu")
    assert not any(r[1] == compat_sig for r in frozen_rows)

    num = "\x00NUM\x00"
    new_parsed = spark.createDataFrame(
        [
            ("doc-z00000001", "proxifier", compat_sig, True),
            # truly novel shape → appended template
            ("doc-z00000002", "apache", f"totally new event shape {num}", True),
            ("doc-z00000003", "apache", f"totally new event shape {num}", True),
        ],
        "doc_id string, source string, content_sig string, head_matched boolean",
    )
    extended = extend_mapping(spark, frozen, new_parsed)
    ext_rows = sorted(map(tuple, extended.collect()))
    # frozen rows unchanged and contained
    assert set(frozen_rows) <= set(ext_rows)
    new_rows = [r for r in ext_rows if r not in frozen_rows]
    assert len(new_rows) == 2
    apache_max = max(int(r[2].split("#")[1]) for r in frozen_rows if r[0] == "apache")
    for source, sig, tid, star, share in new_rows:
        assert share is None  # appended rows have no discovery count → full salt
        if "totally new" in sig:
            assert (source, tid) == ("apache", f"apache#{apache_max + 1}")
            assert star == "totally new event shape <*>"
        else:
            # star-compatible → existing id, existing star
            assert (source, sig, tid, star) == ("proxifier", compat_sig, wild[2], wild[3])
    # idempotent: extending again with the same batch is a no-op
    again = extend_mapping(spark, extended, new_parsed)
    assert sorted(map(tuple, again.collect())) == ext_rows


def test_extend_mapping_accepts_legacy_four_column_mapping(spark, pipeline_out, tmp_path):
    """A frozen mapping dir written before salt_share existed still extends:
    ``read_mapping`` reads the column as NULL (routed at the full salt), and
    the rows are the ones the current-schema mapping extends to."""
    from log_parser_cli_spark.plans.pipeline import read_mapping

    frozen = read_mapping(spark, os.path.join(pipeline_out, "template_mapping"))
    legacy_path = str(tmp_path / "legacy_mapping")
    frozen.select("source", "content_sig", "template_id", "template_star").write.parquet(legacy_path)
    legacy = read_mapping(spark, legacy_path)
    num = "\x00NUM\x00"
    new_parsed = spark.createDataFrame(
        [("doc-z00000009", "apache", f"legacy shape event {num}", True)],
        "doc_id string, source string, content_sig string, head_matched boolean",
    )
    extended = extend_mapping(spark, legacy, new_parsed)
    assert extended.filter(extended.salt_share.isNotNull()).count() == 0
    current = extend_mapping(spark, frozen, new_parsed)
    assert sorted(map(tuple, extended.drop("salt_share").collect())) == sorted(
        map(tuple, current.drop("salt_share").collect())
    )
