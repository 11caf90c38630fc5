"""Structured Streaming replay: streamed routed output == batch routed output."""

import os

import pyspark.sql.functions as F
import pytest

from log_parser_cli_spark.plans.pipeline import read_routed, run_pipeline
from log_parser_cli_spark.streaming.stream import stream_replay


def _split(spark, fixture_dir, stream_dir, n_files):
    """``stream_dir`` holding the fixture's sequences split by doc ordinal
    into ``n_files`` parquet files, one micro-batch each."""
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    ordinal = F.substring("doc_id", 5, 9).cast("long")
    for part in range(n_files):
        seq.filter(ordinal % n_files == part).coalesce(1).write.mode("append").parquet(stream_dir)
    return stream_dir


def test_stream_replay_matches_batch(spark, fixture_dir, pipeline_out, tmp_path):
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "stream_out")
    q = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    q.awaitTermination(120)

    streamed = read_routed(spark, out)
    batch = read_routed(spark, pipeline_out)
    assert streamed.count() == batch.count()
    s_counts = {
        (r.source, r.template_id): r.n
        for r in streamed.groupBy("source", "template_id").agg(F.count("*").alias("n")).collect()
    }
    b_counts = {
        (r.source, r.template_id): r.n
        for r in batch.groupBy("source", "template_id").agg(F.count("*").alias("n")).collect()
    }
    assert s_counts == b_counts

    # restart with availableNow on the same checkpoint: no new data → no dupes
    q2 = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    q2.awaitTermination(60)
    assert read_routed(spark, out).count() == batch.count()


def test_stream_with_discovery_evolves_library(spark, fixture_dir, pipeline_out, tmp_path):
    """Two micro-batches with per-batch library evolution end with the same
    per-(source, template_star) routed counts as the single-shot batch run,
    and batch-1 template ids survive batch 2 unchanged."""
    import pyspark.sql.functions as FN

    from log_parser_cli_spark.streaming.stream import stream_with_discovery

    stream_dir = _split(spark, fixture_dir, str(tmp_path / "stream_src"), 2)
    out = str(tmp_path / "stream_out")
    q = stream_with_discovery(spark, fixture_dir, stream_dir, out, available_now=True)
    q.awaitTermination(180)

    streamed = read_routed(spark, out)
    batch = read_routed(spark, pipeline_out)
    s_counts = {
        (r.source, r.template_star): r.n
        for r in streamed.groupBy("source", "template_star").agg(FN.count("*").alias("n")).collect()
    }
    b_counts = {
        (r.source, r.template_star): r.n
        for r in batch.groupBy("source", "template_star").agg(FN.count("*").alias("n")).collect()
    }
    assert s_counts == b_counts
    # the library is a snapshot table overwritten once per micro-batch; it
    # only grew: every (source, content_sig, template_id) row of the first
    # version (time travel) is in the current one, so ids are never
    # renumbered, and every routed template id is in it
    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    library = SnapshotTable(os.path.join(out, "mapping"))
    history = library.history()
    assert [m["operation"] for m in history] == ["overwrite", "overwrite"]
    key = ("source", "content_sig", "template_id")
    first = {tuple(r) for r in library.read(spark, history[0]["version"]).select(*key).collect()}
    mapping = library.read(spark)
    assert first <= {tuple(r) for r in mapping.select(*key).collect()}
    mapped_ids = {r.template_id for r in mapping.select("template_id").distinct().collect()}
    routed_ids = {
        r.template_id
        for r in streamed.select("template_id").distinct().collect()
        if not r.template_id.startswith("__")
    }
    assert routed_ids <= mapped_ids


def test_stream_kill_mid_batch_never_exposes_partial(
    spark, fixture_dir, pipeline_out, tmp_path, monkeypatch
):
    """A micro-batch killed between staging its data and the snapshot commit
    point is invisible to readers (no torn partial dir, unlike the previous
    plain batch_id=N layout); the restarted stream replays the batch and
    converges to the batch pipeline's counts with no duplicates."""
    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "stream_out")
    real = SnapshotTable.commit_batch

    def kill_mid_batch(self, df, batch_id, **kw):
        self._stage(df, kw.get("partition_by"))  # the data bytes land...
        raise RuntimeError("killed mid-batch")  # ...but never reach the commit point

    monkeypatch.setattr(SnapshotTable, "commit_batch", kill_mid_batch)
    q = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    # a reader between the kill and the restart sees "no table yet", never
    # the staged partial bytes
    with pytest.raises(FileNotFoundError):
        read_routed(spark, out)

    monkeypatch.setattr(SnapshotTable, "commit_batch", real)
    q2 = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    q2.awaitTermination(120)
    assert read_routed(spark, out).count() == read_routed(spark, pipeline_out).count()


@pytest.fixture(scope="module")
def three_batch_stream(spark, fixture_dir, pipeline_out, tmp_path_factory):
    """``stream_replay`` of the fixture split into 3 files (3 micro-batches)
    against the pipeline's mapping rebuilt as a Python RDD whose map counts
    every row it yields; returns (out dir, rows counted, mapping rows)."""
    stream_dir = _split(spark, fixture_dir, str(tmp_path_factory.mktemp("stream_src3")), 3)

    stored = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    rows = stored.collect()
    evaluated = spark.sparkContext.accumulator(0)

    def count(row):
        evaluated.add(1)
        return row

    mapping = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2).map(count), stored.schema)
    out = str(tmp_path_factory.mktemp("stream_out3"))
    q = stream_replay(spark, fixture_dir, out, mapping, stream_dir=stream_dir)
    q.awaitTermination(180)
    assert q.exception() is None
    return out, evaluated.value, len(rows)


def test_stream_evaluates_the_mapping_once(three_batch_stream):
    """The frozen mapping is pinned once per stream, not rebuilt from its
    lineage for each micro-batch's broadcast."""
    _, evaluated, n_rows = three_batch_stream
    assert evaluated == n_rows


def test_micro_batch_writes_one_file_per_template_dir(spark, pipeline_out, three_batch_stream):
    """Each committed micro-batch dir holds exactly one parquet file per
    sink=/template_id= leaf, and the streamed rows equal the batch route's."""
    from log_parser_cli_spark.plans.pipeline import routed_data_dirs

    out = three_batch_stream[0]
    data_dirs = routed_data_dirs(out)
    assert len(data_dirs) == 3
    for data_dir in data_dirs:
        leaves = [
            (root, [f for f in files if f.endswith(".parquet")])
            for root, _, files in os.walk(data_dir)
            if "template_id=" in os.path.basename(root)
        ]
        assert leaves and all(len(parquet) == 1 for _, parquet in leaves), [
            leaf for leaf in leaves if len(leaf[1]) != 1
        ]

    def by_doc(df):
        return {r.doc_id: r.asDict() for r in df.collect()}

    assert by_doc(read_routed(spark, out)) == by_doc(read_routed(spark, pipeline_out))


def test_stream_replay_builds_the_chain_once(spark, fixture_dir, pipeline_out, tmp_path, monkeypatch):
    """The parse → enrich → route chain is the streaming plan: over 3
    micro-batches each stage is built once per query, and a batch only
    commits."""
    from log_parser_cli_spark.streaming import stream

    built = {"parse_stage": 0, "enrich_stage": 0, "route_frame": 0}
    for name in built:
        real = getattr(stream, name)

        def counted(*args, _real=real, _name=name, **kw):
            built[_name] += 1
            return _real(*args, **kw)

        monkeypatch.setattr(stream, name, counted)
    stream_dir = _split(spark, fixture_dir, str(tmp_path / "stream_src"), 3)
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    q = stream_replay(spark, fixture_dir, str(tmp_path / "stream_out"), mapping, stream_dir=stream_dir)
    assert q.awaitTermination(180) and q.exception() is None
    assert [p["numInputRows"] > 0 for p in q.recentProgress].count(True) == 3
    assert built == {"parse_stage": 1, "enrich_stage": 1, "route_frame": 1}


def test_stream_with_discovery_reads_each_row_once(spark, fixture_dir, tmp_path):
    """A discovery micro-batch is read and parsed once for its two actions
    (the library's signature aggregation and the route write): over 2
    batches the query's stages read fewer than twice the input rows. The
    surplus over one read is the library's own rows; a persisted batch's
    re-read is not input."""
    from log_parser_cli_spark.streaming.stream import stream_with_discovery

    stream_dir = _split(spark, fixture_dir, str(tmp_path / "stream_src"), 2)
    out = str(tmp_path / "stream_out")
    q = stream_with_discovery(spark, fixture_dir, stream_dir, out)
    assert q.awaitTermination(180) and q.exception() is None
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    read = sum(
        store.lastStageAttempt(sid).inputRecords()
        for jid in sc.statusTracker().getJobIdsForGroup(str(q.runId))
        for sid in sc.statusTracker().getJobInfo(jid).stageIds
    )
    n_rows = read_routed(spark, out).count()
    assert n_rows <= read < 2 * n_rows, (read, n_rows)
