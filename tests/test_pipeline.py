"""End-to-end pipeline tests: counts vs ground truth, routed-row byte equality,
variable extraction, histogram, manifest row counts (SURVEY.md §5.2 golden
E2E)."""

import json
import os

import pyspark.sql.functions as F
import pytest

from log_parser_cli_spark.plans.pipeline import read_routed


def test_sink_counts_match_ground_truth(spark, fixture_dir, pipeline_out):
    counts = spark.read.parquet(os.path.join(pipeline_out, "sink_counts"))
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    gt_counts = gt.groupBy(
        "source", F.col("event_template").alias("template_star")
    ).agg(F.count("*").alias("n_gt"))
    mine = counts.groupBy("source", "template_star").agg(F.sum("n_sequences").alias("n_mine"))
    j = gt_counts.join(mine, ["source", "template_star"], "full")
    bad = j.filter(
        F.col("n_gt").isNull() | F.col("n_mine").isNull() | (F.col("n_gt") != F.col("n_mine"))
    )
    assert bad.count() == 0, bad.collect()[:5]


def test_routed_rows_byte_exact_token_equality(spark, fixture_dir, pipeline_out):
    routed = read_routed(spark, pipeline_out)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    assert routed.count() == seq.count()  # no row lost or duplicated
    joined = routed.select("doc_id", F.col("tokens").alias("routed_tokens")).join(
        seq.select("doc_id", "tokens"), "doc_id"
    )
    mismatches = joined.filter(F.col("tokens") != F.col("routed_tokens")).count()
    assert mismatches == 0


def test_unparsed_rows_routed_to_failure_sink(spark, fixture_dir, pipeline_out):
    routed = read_routed(spark, pipeline_out)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    n_noise = gt.filter(~F.col("head_matched")).count()
    assert n_noise > 0  # fixture must exercise the unparsed path
    unparsed = routed.filter(F.col("template_id") == "__UNPARSED__")
    assert unparsed.count() == n_noise
    assert unparsed.select("sink").distinct().collect()[0][0] == "sink-failures"
    # no row silently fell into the unmatched bucket in discovery mode
    assert routed.filter(F.col("template_id") == "__UNMATCHED__").count() == 0
    # the same counts, observed on each stage's own action, in the manifest
    with open(os.path.join(pipeline_out, "_manifest.json")) as f:
        stages = json.load(f)["stages"]
    n_rows = gt.count()
    assert stages["parse"]["rows"] == stages["route"]["rows"] == n_rows
    assert stages["parse"]["head_matched"] == n_rows - n_noise
    assert stages["route"]["unparsed"] == n_noise
    assert stages["route"]["unmatched"] == 0
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    assert stages["discover"]["templates"] == mapping.select("template_id").distinct().count()


def test_word_variable_extraction_matches_ground_truth(spark, fixture_dir, pipeline_out):
    routed = read_routed(spark, pipeline_out)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    mine = routed.select(
        "doc_id",
        F.col("n_vars").alias("my_n_vars"),
        F.array_join(
            F.expr("transform(sequence(1, n_vars), i -> variables[concat('v', i)])"), "|"
        ).alias("my_vars"),
    )
    j = mine.join(gt.select("doc_id", "n_vars", "word_var_concat"), "doc_id")
    bad = j.filter(
        (F.col("my_n_vars") != F.col("n_vars"))
        | (F.coalesce("my_vars", F.lit("")) != F.col("word_var_concat"))
    )
    assert bad.count() == 0, bad.collect()[:5]


def test_ntok_histogram_consistency(spark, fixture_dir, pipeline_out):
    hist = spark.read.parquet(os.path.join(pipeline_out, "ntok_hist"))
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    total_hist = hist.agg(F.sum("cnt")).first()[0]
    assert total_hist == gt.count()
    gt_hist = gt.groupBy("source", "n_tok").agg(F.count("*").alias("n_gt"))
    mine = hist.groupBy("source", "n_tok").agg(F.sum("cnt").alias("n_mine"))
    bad = gt_hist.join(mine, ["source", "n_tok"], "full").filter(
        F.coalesce("n_gt", F.lit(-1)) != F.coalesce("n_mine", F.lit(-2))
    )
    assert bad.count() == 0


def _two_groupby_aggregates(routed):
    """sink_counts and ntok_hist as two group-bys straight over the routed
    rows: the definition the single-scan stage must reproduce."""
    return {
        "sink_counts": routed.groupBy("source", "sink", "template_id", "template_star").agg(
            F.count("*").alias("n_sequences"), F.sum("n_tok").alias("sum_n_tok")
        ),
        "ntok_hist": routed.groupBy("source", "sink", "template_id", "n_tok").agg(
            F.count("*").alias("cnt")
        ),
    }


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_aggregate_tables_equal_two_groupby_definition(spark, pipeline_out):
    want = _two_groupby_aggregates(read_routed(spark, pipeline_out))
    for name, df in want.items():
        got = spark.read.parquet(os.path.join(pipeline_out, name))
        assert _types(got) == _types(df), name
        assert sorted(got.collect()) == sorted(df.collect()), name


def test_aggregate_of_empty_routed_frame_writes_both_tables(spark, pipeline_out, tmp_path):
    from log_parser_cli_spark.plans.pipeline import aggregate_stage

    routed = read_routed(spark, pipeline_out).limit(0)
    paths = aggregate_stage(spark, routed, str(tmp_path))
    for name, df in _two_groupby_aggregates(routed).items():
        got = spark.read.parquet(paths[name])
        assert _types(got) == _types(df), name
        assert got.count() == 0


def _jobs_of(spark, group: str, fn):
    """``fn()``'s result and the ids of the Spark jobs it submitted, labelled
    with job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # the status store lags the jobs' end
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_aggregate_reads_each_routed_row_once(spark, pipeline_out, tmp_path):
    """One scan of the routed snapshot and no write job: the stage's jobs read
    as many input records as the snapshot holds rows and write none (the
    driver writes both tables)."""
    from log_parser_cli_spark.plans.pipeline import aggregate_stage

    routed = read_routed(spark, pipeline_out)
    n_rows = routed.count()
    _, jobs = _jobs_of(
        spark, "aggregate-scan", lambda: aggregate_stage(spark, routed, str(tmp_path))
    )
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = [
        store.lastStageAttempt(sid)
        for jid in jobs
        for sid in spark.sparkContext.statusTracker().getJobInfo(jid).stageIds
    ]
    assert sum(s.inputRecords() for s in stages) == n_rows
    assert sum(s.outputRecords() for s in stages) == 0


def test_aggregate_rerun_replaces_both_tables(spark, pipeline_out, tmp_path):
    """A second aggregate into the same dir leaves one parquet file per
    table, holding the second run's rows, and no temp file."""
    from log_parser_cli_spark.plans.pipeline import aggregate_stage

    routed = read_routed(spark, pipeline_out)
    aggregate_stage(spark, routed, str(tmp_path))
    one_sink = routed.filter(F.col("sink") == "sink-failures")
    paths = aggregate_stage(spark, one_sink, str(tmp_path))
    for name, df in _two_groupby_aggregates(one_sink).items():
        assert os.listdir(paths[name]) == ["part-00000.parquet"], name
        got = spark.read.parquet(paths[name])
        assert sorted(got.collect()) == sorted(df.collect()), name


def test_aggregate_rejects_star_that_is_not_a_function_of_its_template(spark, tmp_path):
    from log_parser_cli_spark.plans.pipeline import aggregate_stage

    routed = spark.createDataFrame(
        [
            ("s", "sink-a", "t1", "a <*>", 2),
            ("s", "sink-a", "t1", "b <*>", 2),
            ("s", "sink-a", "t2", "c", 1),
        ],
        "source string, sink string, template_id string, template_star string, n_tok int",
    )
    with pytest.raises(ValueError, match="'template_id': 't1'"):
        aggregate_stage(spark, routed, str(tmp_path))
    assert not os.path.exists(tmp_path / "sink_counts")


def test_load_dims_submits_no_job_and_equals_spark_read(spark, fixture_dir):
    """The dims come off the driver's pyarrow read with no job, equal to what
    a Spark read of the same files gives: vocab rows in file order, the
    source heads and the source → sink map."""
    from log_parser_cli_spark.plans.pipeline import load_dims

    (vocab_rows, source_heads, sinks), jobs = _jobs_of(
        spark, "load-dims", lambda: load_dims(spark, fixture_dir)
    )
    assert jobs == []
    vocab = spark.read.parquet(os.path.join(fixture_dir, "vocab.parquet")).collect()
    assert vocab_rows == [(r.token_id, r.text) for r in vocab]
    assert all(type(i) is int and type(w) is str for i, w in vocab_rows)
    sources = spark.read.parquet(os.path.join(fixture_dir, "sources.parquet")).collect()
    assert source_heads == {r.source: (r.head_pattern, r.content_group) for r in sources}
    assert sinks == {r.source: r.sink for r in sources}


@pytest.mark.parametrize(
    "name, key, row", [("vocab.parquet", "token_id", 3), ("sources.parquet", "source", 1)]
)
def test_load_dims_rejects_a_repeated_key(spark, fixture_dir, tmp_path, name, key, row):
    """A token_id or source listed twice raises, naming it, instead of
    rendering the last word or taking the last row's head and sink."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_parser_cli_spark.plans.pipeline import load_dims

    for f in ("vocab.parquet", "sources.parquet"):
        t = pq.read_table(os.path.join(fixture_dir, f))
        if f == name:
            dup = t.slice(row, 1)
            t = pa.concat_tables([t, dup])
        pq.write_table(t, str(tmp_path / f))
    want = f"{name} lists {key} more than once: [{dup[key][0].as_py()!r}]"
    with pytest.raises(ValueError, match=re.escape(want)):
        load_dims(spark, str(tmp_path))


def test_read_sequences_submits_no_job_and_equals_spark_read(spark, fixture_dir):
    """``read_sequences`` takes its schema from the parquet footer on the
    driver: no job, and the schema an inferring Spark read gives."""
    from log_parser_cli_spark.plans.pipeline import read_sequences

    seq, jobs = _jobs_of(spark, "read-sequences", lambda: read_sequences(spark, fixture_dir))
    assert jobs == []
    assert seq.schema == spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet")).schema


def test_replay_job_count(spark, fixture_dir, pipeline_out, tmp_path):
    """A replay pass submits at most 5 Spark jobs: the dims load and the
    aggregate's two table writes run on the driver and submit none, the sink
    lookup broadcasts nothing, and no table read infers a schema."""
    from log_parser_cli_spark.plans.pipeline import read_mapping, run_replay

    mapping = read_mapping(spark, os.path.join(pipeline_out, "template_mapping"))
    rows, jobs = _jobs_of(
        spark, "replay", lambda: run_replay(spark, fixture_dir, str(tmp_path), mapping)
    )
    assert rows == spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet")).count()
    assert len(jobs) <= 5, len(jobs)


def test_stream_pass_job_count(spark, fixture_dir, pipeline_out, tmp_path):
    """A ``stream-microbatch``-shaped pass (``stream_replay`` of 2 files, one
    micro-batch each, then ``read_routed`` and ``aggregate_stage``) submits at
    most 9 Spark jobs. The stream's own thread runs its jobs under the
    query's run id as job group, so both groups are counted."""
    from log_parser_cli_spark.plans.pipeline import aggregate_stage, read_mapping
    from log_parser_cli_spark.streaming.stream import stream_replay

    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    stream_dir = str(tmp_path / "stream_src")
    ordinal = F.substring("doc_id", 5, 9).cast("long")
    seq.filter(ordinal % 2 == 0).coalesce(1).write.parquet(stream_dir)
    seq.filter(ordinal % 2 == 1).coalesce(1).write.mode("append").parquet(stream_dir)
    mapping = read_mapping(spark, os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "stream_out")

    def stream_pass():
        q = stream_replay(spark, fixture_dir, out, mapping, stream_dir=stream_dir)
        assert q.awaitTermination(120)
        aggregate_stage(spark, read_routed(spark, out), out)
        return q

    q, jobs = _jobs_of(spark, "stream-pass", stream_pass)
    assert [p["numInputRows"] > 0 for p in q.recentProgress].count(True) == 2
    stream_jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert stream_jobs and len(jobs) + len(stream_jobs) <= 9, (jobs, stream_jobs)


def test_enrich_plan_joins_once(spark, fixture_dir, pipeline_out):
    """Enrichment joins the mapping and nothing else: the sink is a literal
    map lookup, so the optimized plan holds exactly one Join."""
    from log_parser_cli_spark.plans.pipeline import enrich_stage, load_dims, read_mapping

    _, _, sinks = load_dims(spark, fixture_dir)
    parsed = spark.read.parquet(os.path.join(pipeline_out, "parsed"))
    mapping = read_mapping(spark, os.path.join(pipeline_out, "template_mapping"))
    plan = enrich_stage(parsed, mapping, sinks)._jdf.queryExecution().optimizedPlan().toString()
    assert [ln.lstrip(" :+-").split(" ")[0] for ln in plan.splitlines()].count("Join") == 1, plan


def test_routed_partition_layout(pipeline_out):
    """Fan-out write is physically partitioned by sink and template_id (K1),
    inside the current snapshot's immutable data dir."""
    from log_parser_cli_spark.plans.pipeline import routed_data_dirs

    (data_dir,) = routed_data_dirs(pipeline_out)
    sinks = [d for d in os.listdir(data_dir) if d.startswith("sink=")]
    assert len(sinks) >= 5
    one = os.path.join(data_dir, sorted(sinks)[0])
    assert any(d.startswith("template_id=") for d in os.listdir(one))


def test_salted_fanout_splits_hot_template(spark, fixture_dir, pipeline_out, tmp_path):
    """Skew handling: the hot (sink, template) partition is written by multiple
    salted tasks, not serialized into one writer (north_rule skew clause).

    At this test's row count AQE would coalesce the whole shuffle into one
    partition (correct for tiny data); pin coalescing off to observe the salt
    fan-out that large partitions get at scale.
    """
    import glob

    from pyspark.errors import AnalysisException

    from log_parser_cli_spark.plans.pipeline import (
        read_routed,
        route_frame,
        route_stage,
        routed_data_dirs,
    )

    # routed rows carry no share: the route takes one shape, so they need a
    # NULL one, which routes every template at the full salt
    with pytest.raises(AnalysisException, match="salt_share"):
        route_frame(read_routed(spark, pipeline_out), salt_buckets=4)
    enriched = read_routed(spark, pipeline_out).withColumn("salt_share", F.lit(None).cast("double"))
    counts = spark.read.parquet(os.path.join(pipeline_out, "sink_counts"))
    hot = counts.orderBy(F.desc("n_sequences")).first()

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        out = str(tmp_path / "salted")
        route_stage(enriched, out, salt_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    from urllib.parse import quote

    # Spark URL-encodes partition values in directory names ('#' → '%23')
    (data_dir,) = routed_data_dirs(out)
    tpl_dir = os.path.join(
        data_dir, f"sink={hot.sink}", f"template_id={quote(hot.template_id, safe='')}"
    )
    files = glob.glob(os.path.join(tpl_dir, "*.parquet"))
    assert len(files) >= 2, f"hot template wrote {len(files)} file(s) — salting ineffective"


def test_salt_sized_by_template_share(spark, fixture_dir, pipeline_out, tmp_path):
    """Per-template salt = ceil(salt_buckets × salt_share): the hottest
    template (share 1.0) still spreads over several files, and every template
    with share ≤ 1/salt_buckets lands in one salt, hence exactly one file in
    its (sink, template_id) dir. Coalescing pinned off, as above."""
    import glob
    from urllib.parse import quote

    from log_parser_cli_spark.plans.pipeline import (
        enrich_stage,
        load_dims,
        read_mapping,
        route_stage,
        routed_data_dirs,
    )

    salt_buckets = 4
    mapping = read_mapping(spark, os.path.join(pipeline_out, "template_mapping"))
    shares = dict(mapping.select("template_id", "salt_share").distinct().collect())
    assert len(shares) == mapping.select("template_id").distinct().count()  # one share per template
    assert max(shares.values()) == 1.0
    _, _, sinks = load_dims(spark, fixture_dir)
    parsed = spark.read.parquet(os.path.join(pipeline_out, "parsed"))
    enriched = enrich_stage(parsed, mapping, sinks)

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        out = str(tmp_path / "sized")
        route_stage(enriched, out, salt_buckets=salt_buckets)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    (data_dir,) = routed_data_dirs(out)

    def n_files(template_id: str) -> int:
        tpl = f"template_id={quote(template_id, safe='')}"
        return len(glob.glob(os.path.join(data_dir, "sink=*", tpl, "*.parquet")))

    hot = next(t for t, s in shares.items() if s == 1.0)
    assert n_files(hot) >= 2, f"hot template {hot} wrote {n_files(hot)} file(s)"
    cold = [t for t, s in shares.items() if s <= 1 / salt_buckets]
    assert cold, "fixture must have templates below the one-salt share"
    assert {t: n_files(t) for t in cold} == {t: 1 for t in cold}


def test_legacy_four_column_mapping_routes_same_rows(spark, fixture_dir, pipeline_out, tmp_path):
    """--match-only with a mapping dir written before salt_share existed:
    ``read_mapping`` reads the share as NULL, so the route falls back to the
    full salt and routes the same rows and tokens."""
    from log_parser_cli_spark.plans.pipeline import read_mapping, run_pipeline

    legacy_path = str(tmp_path / "legacy_mapping")
    spark.read.parquet(os.path.join(pipeline_out, "template_mapping")).select(
        "source", "content_sig", "template_id", "template_star"
    ).write.parquet(legacy_path)
    assert "salt_share" not in spark.read.parquet(legacy_path).columns
    legacy = read_mapping(spark, legacy_path)
    assert legacy.filter(legacy.salt_share.isNotNull()).count() == 0

    out = str(tmp_path / "legacy_run")
    res = run_pipeline(spark, fixture_dir, out, run_id="legacy", mapping_df=legacy)
    assert "discover" not in res.stages_run
    cols = ["doc_id", "tokens", "n_tok", "source", "sink", "template_id", "template_star", "n_vars"]
    want = read_routed(spark, pipeline_out).select(*cols)
    got = read_routed(spark, out).select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0



def test_parse_renders_each_vocab_in_one_session(spark):
    """Two same-length vocabs that differ in one row: parsing one frame under
    each in the same session (Python workers reused) renders each vocab's own
    words, never the other's."""
    from log_parser_cli_spark.operators.parse import parse_stage

    vocab_a = [(i, f"word{i}") for i in range(64)]
    vocab_b = [(i, "CHANGED" if i == 1 else w) for i, w in vocab_a]

    seq = spark.createDataFrame(
        [("d0", [0, 1, 2], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1)
    heads = {"s": (r"(.*)", 1)}
    for vocab, want in ((vocab_a, "word0 word1 word2"), (vocab_b, "word0 CHANGED word2")):
        assert parse_stage(spark, seq, vocab, heads).collect()[0].content == want


def test_tasks_read_their_tables_without_a_broadcast(
    spark, fixture_dir, pipeline_out, tmp_path, monkeypatch
):
    """A replay pass and ``match_templates`` over the fixture library submit
    no ``SparkContext.broadcast``: the vocab arrays, the heads and the template
    rows reach the tasks in their closure. PySpark also broadcasts a task
    command itself once it pickles past its 1 MB threshold, so this fails as
    well if a closure grows that large."""
    from pyspark import SparkContext

    from log_parser_cli_spark.operators.matcher import match_templates
    from log_parser_cli_spark.operators.parse import parse_stage
    from log_parser_cli_spark.oracle import load_fixture_table, oracle_match
    from log_parser_cli_spark.plans.pipeline import load_dims, run_replay

    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))

    def no_broadcast(self, value):
        raise AssertionError("tasks carry their tables in the closure, never a broadcast")

    monkeypatch.setattr(SparkContext, "broadcast", no_broadcast)
    assert run_replay(spark, fixture_dir, str(tmp_path / "replay"), mapping) == 3000

    vocab_rows, source_heads, _ = load_dims(spark, fixture_dir)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    parsed = parse_stage(spark, seq, vocab_rows, source_heads)
    library = load_fixture_table(fixture_dir, "templates")
    got = match_templates(spark, parsed, library).filter("template_id IS NOT NULL").count()
    assert got == sum(m.template_id is not None for m in oracle_match(fixture_dir))
