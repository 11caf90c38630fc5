"""The benchmark's workloads: set-up, one timed pass, output checks, and the
labelled layer prefixes a traced run times.

Every workload calls only the engine's public functions. A pass is what the
timed region covers; ``check`` runs after it, outside the timed region, and
returns the failed checks (empty when the output is right).
"""

from __future__ import annotations

import os
import random
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

UNPARSED = "__UNPARSED__"
UNMATCHED = "__UNMATCHED__"
SAMPLE_DOCS = 64  # doc_ids whose routed tokens are compared with the input


def span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def noop(df) -> None:
    """Run a DataFrame to completion without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class State:
    """What set-up hands to every pass and check of one workload run."""

    inp: object
    vocab_rows: list = field(default_factory=list)
    source_heads: dict = field(default_factory=dict)
    sources_df: object = None
    mapping: object = None  # frozen signature mapping of the current session
    mapping_rows: list = field(default_factory=list)  # discovered once per run
    mapping_schema: object = None
    library: list = field(default_factory=list)  # regex templates (match-regex)
    gt_star: dict = field(default_factory=dict)  # (source, event_template) -> n
    gt_event: dict = field(default_factory=dict)  # (source, event_id) -> n
    gt_unparsed: int = 0
    sample_tokens: dict = field(default_factory=dict)  # doc_id -> tokens


def _counts(table: pa.Table, keys: list[str], value: str | None = None) -> dict:
    agg = [(value, "sum")] if value else [(keys[0], "count")]
    out = table.group_by(keys).aggregate(agg).to_pylist()
    col = f"{value}_sum" if value else f"{keys[0]}_count"
    return {tuple(r[k] for k in keys): r[col] for r in out}


def load_truth(st: State, seed: int) -> None:
    """Ground-truth counts and the sampled input tokens (driver side)."""
    fx = st.inp.fixture_dir
    gt = pq.read_table(
        os.path.join(fx, "ground_truth.parquet"),
        columns=["source", "event_id", "event_template", "head_matched"],
    )
    st.gt_star = _counts(gt, ["source", "event_template"])
    st.gt_event = _counts(gt, ["source", "event_id"])
    st.gt_unparsed = gt.num_rows - pc.sum(gt["head_matched"]).as_py()
    ids = [f"doc-{i:09d}" for i in random.Random(seed).sample(range(st.inp.rows), SAMPLE_DOCS)]
    seq = pq.read_table(os.path.join(fx, "sequences.parquet"), columns=["doc_id", "tokens"])
    seq = seq.filter(pc.is_in(seq["doc_id"], pa.array(ids)))
    st.sample_tokens = dict(zip(seq["doc_id"].to_pylist(), seq["tokens"].to_pylist()))


def load_dims(spark, st: State) -> None:
    from log_parser_cli_spark.plans.pipeline import load_dims as _load

    st.vocab_rows, st.source_heads, st.sources_df = _load(spark, st.inp.fixture_dir)


def read_sequences(spark, st: State):
    return spark.read.parquet(os.path.join(st.inp.fixture_dir, "sequences.parquet"))


def discover_mapping(spark, st: State) -> None:
    """Discover the frozen mapping from this input and pin its rows on the
    driver, so a restarted session gets the same mapping without discovery."""
    from log_parser_cli_spark.operators.parse import parse_stage
    from log_parser_cli_spark.plans.pipeline import discover_templates

    parsed = parse_stage(spark, read_sequences(spark, st), st.vocab_rows, st.source_heads)
    mapping = discover_templates(spark, parsed)
    st.mapping_rows = sorted(tuple(r) for r in mapping.collect())
    st.mapping_schema = mapping.schema


# -- output inspection -------------------------------------------------------


def routed_files(data_dirs: list[str]) -> list[tuple[str, int]]:
    """(path, bytes) of every parquet file under a snapshot's data dirs."""
    files = []
    for root in data_dirs:
        for base, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(base, n)
                    files.append((p, os.path.getsize(p)))
    return files


def check_routed(st: State, out_dir: str, unique_docs: bool = False) -> tuple[list[str], dict]:
    """Checks shared by the workloads that route; also returns the file
    layout and counts the per-layer metrics report."""
    from log_parser_cli_spark.plans.pipeline import routed_data_dirs

    errs = []
    counts = pq.read_table(os.path.join(out_dir, "sink_counts"))
    by_star = _counts(counts, ["source", "template_star"], "n_sequences")
    if by_star != st.gt_star:
        errs.append("per-(source, template_star) counts differ from ground truth")
    by_tid = _counts(counts, ["template_id"], "n_sequences")
    unparsed = by_tid.get((UNPARSED,), 0)
    if unparsed != st.gt_unparsed:
        errs.append(f"UNPARSED count {unparsed} != ground truth {st.gt_unparsed}")
    data_dirs = routed_data_dirs(out_dir)
    files = routed_files(data_dirs)
    routed = ds.dataset([p for p, _ in files], format="parquet")
    n_rows = routed.count_rows()
    if n_rows != st.inp.rows:
        errs.append(f"routed rows {n_rows} != input rows {st.inp.rows}")
    got = routed.to_table(
        columns=["doc_id", "tokens"],
        filter=pc.field("doc_id").isin(list(st.sample_tokens)),
    )
    got_tokens = dict(zip(got["doc_id"].to_pylist(), got["tokens"].to_pylist()))
    if got_tokens != st.sample_tokens:
        errs.append("routed tokens differ from the input on sampled doc_ids")
    if unique_docs:
        doc_ids = routed.to_table(columns=["doc_id"])["doc_id"]
        if pc.count_distinct(doc_ids).as_py() != len(doc_ids):
            errs.append("duplicate doc_id in the routed snapshot")
    sizes = sorted(b for _, b in files)
    layout = {
        "data_dirs": len(data_dirs),
        "files": len(sizes),
        "bytes": sum(sizes),
        "skew": sizes[-1] / sizes[len(sizes) // 2] if sizes else 0.0,
        "unparsed": unparsed,
    }
    return errs, layout


# -- workloads ---------------------------------------------------------------


class Workload:
    name = ""
    rows = 0
    stream_files = 0
    uses_mapping = True
    # spans whose median durations add up to one pass (traced coverage)
    cover: tuple[str, ...] = ()

    def setup(self, spark, st: State, tracer=None) -> None:
        """Dims, and the frozen mapping where one is used: discovered in the
        run's first set-up, rebuilt from the pinned rows in later ones."""
        load_dims(spark, st)
        if not self.uses_mapping:
            return
        if not st.mapping_rows:
            with span(tracer, "setup.discover"):
                discover_mapping(spark, st)
        st.mapping = spark.createDataFrame(st.mapping_rows, st.mapping_schema)

    def run_pass(self, spark, st: State, out_dir: str, tracer=None) -> dict:
        raise NotImplementedError

    def check(self, st: State, out_dir: str, res: dict) -> list[str]:
        errs, layout = check_routed(st, out_dir)
        res.update(layout)
        return errs

    def layers(self, spark, st: State, out_dir: str, tracer) -> dict:
        """Run the labelled cumulative prefixes of one pass (traced runs);
        returns counts measured on the way."""
        raise NotImplementedError


def replay_prefixes(spark, st: State, out_dir: str, tracer, salt_buckets: int) -> None:
    """scan → +parse → +enrich as noop sinks, then the real route write,
    snapshot read, aggregate and row count: each prefix's time minus the
    previous one is that layer's self time (Spark is lazy, so layers cannot
    be timed one by one inside a single action)."""
    from pyspark.sql import functions as F

    from log_parser_cli_spark.operators.parse import parse_stage
    from log_parser_cli_spark.plans.pipeline import (
        aggregate_stage,
        enrich_stage,
        read_routed,
        route_stage,
    )

    with span(tracer, "L.dims"):
        load_dims(spark, st)
    seq = read_sequences(spark, st)

    def parsed():
        return parse_stage(spark, seq, st.vocab_rows, st.source_heads)

    with span(tracer, "L.scan"):
        noop(seq)
    with span(tracer, "L.parse"):
        noop(parsed())
    with span(tracer, "L.enrich"):
        noop(enrich_stage(parsed(), st.mapping, st.sources_df))
    with span(tracer, "L.route"):
        route_stage(
            enrich_stage(parsed(), st.mapping, st.sources_df), out_dir, salt_buckets=salt_buckets
        )
    with span(tracer, "L.snapshot_read"):
        routed = read_routed(spark, out_dir)
    with span(tracer, "L.aggregate"):
        aggregate_stage(spark, routed, out_dir)
    with span(tracer, "L.count"):  # run_replay's closing row count
        spark.read.parquet(os.path.join(out_dir, "sink_counts")).agg(F.sum("n_sequences")).first()


def time_drain(spark, st: State, parsed, tracer) -> dict:
    """Re-collect the (source, content_sig) rows discovery clusters and time
    the driver-side Drain over them alone."""
    from pyspark.sql import functions as F

    from log_parser_cli_spark.operators.drain import cluster_signatures

    with span(tracer, "L.sigrows"):
        rows = (
            parsed.filter(F.col("head_matched"))
            .groupBy("source", "content_sig")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
            .collect()
        )
    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r.source, []).append((r.first_doc, r.content_sig, int(r.n)))
    n_clusters = 0
    with span(tracer, "L.drain"):
        for source in sorted(per_source):
            ranked = sorted(per_source[source])
            sig_rows = [(sig, n, rank) for rank, (_, sig, n) in enumerate(ranked)]
            n_clusters += len(cluster_signatures(sig_rows))
    return {"discover.signatures": len(rows), "drain.clusters": n_clusters}


def write_checkpoint(spark, st: State, seq, ckpt: str, tracer) -> int:
    """+checkpoint prefix: the parse output written as parquet, as
    ``run_pipeline(checkpoint_parse=True)`` does; returns its bytes."""
    from log_parser_cli_spark.operators.parse import parse_stage

    with span(tracer, "L.checkpoint"):
        parse_stage(spark, seq, st.vocab_rows, st.source_heads).write.mode("overwrite").parquet(ckpt)
    return sum(os.path.getsize(os.path.join(ckpt, n)) for n in os.listdir(ckpt) if n.endswith(".parquet"))


def match_prefix(spark, st: State, tracer) -> dict:
    """+match prefix: match-regex's matcher over this input's parse output;
    returns the per-(source, template_id) counts."""
    from log_parser_cli_spark.oracle import load_fixture_table

    st.library = load_fixture_table(st.inp.fixture_dir, "templates")
    _, matched = MatchRegex.matched(spark, st)
    with span(tracer, "L.match"):
        noop(matched)
    return {(r.source, r.template_id): r.n_rows for r in MatchRegex.count(matched)}


def setup_drain(spark, st: State, tracer) -> dict:
    """Drain over the signatures of the set-up's mapping discovery."""
    from log_parser_cli_spark.operators.parse import parse_stage

    parsed = parse_stage(spark, read_sequences(spark, st), st.vocab_rows, st.source_heads)
    return time_drain(spark, st, parsed, tracer)


class ReplayBulk(Workload):
    name = "replay-bulk"
    rows = 100_000
    salt_buckets = 4
    cover = ("L.dims", "L.route", "L.snapshot_read", "L.aggregate", "L.count")

    def run_pass(self, spark, st, out_dir, tracer=None):
        from log_parser_cli_spark.plans.pipeline import run_replay

        n = run_replay(spark, st.inp.fixture_dir, out_dir, st.mapping, salt_buckets=self.salt_buckets)
        return {"rows": n}

    def check(self, st, out_dir, res):
        errs = super().check(st, out_dir, res)
        if res["rows"] != st.inp.rows:
            errs.append(f"run_replay counted {res['rows']} rows, input has {st.inp.rows}")
        return errs

    def layers(self, spark, st, out_dir, tracer):
        replay_prefixes(spark, st, out_dir, tracer, self.salt_buckets)
        counts = setup_drain(spark, st, tracer)
        # the layers only the unlisted workloads load (discover-ckpt's parse
        # checkpoint, match-regex's matcher), timed over this input too
        ckpt = os.path.join(out_dir, "parsed")
        counts["checkpoint.bytes"] = write_checkpoint(spark, st, read_sequences(spark, st), ckpt, tracer)
        counts["match.counts"] = match_prefix(spark, st, tracer)
        return counts


class DiscoverCkpt(Workload):
    name = "discover-ckpt"
    rows = 100_000
    salt_buckets = 16  # jobs.py default
    uses_mapping = False
    cover = ("L.dims", "L.checkpoint", "L.discover", "L.route", "L.snapshot_read", "L.aggregate")

    def run_pass(self, spark, st, out_dir, tracer=None):
        from log_parser_cli_spark.plans.pipeline import run_pipeline

        res = run_pipeline(
            spark, st.inp.fixture_dir, out_dir, run_id="perfbench",
            checkpoint_parse=True, salt_buckets=self.salt_buckets,
        )
        return {"rows": res.counts.get("parsed", -1), "stages": res.stages_run}

    def check(self, st, out_dir, res):
        errs = super().check(st, out_dir, res)
        if res["rows"] != st.inp.rows:
            errs.append(f"parse checkpoint holds {res['rows']} rows, input has {st.inp.rows}")
        if res["stages"] != ["parse", "discover", "route", "aggregate"]:
            errs.append(f"unexpected stages {res['stages']}")
        return errs

    def layers(self, spark, st, out_dir, tracer):
        from log_parser_cli_spark.operators.parse import parse_stage
        from log_parser_cli_spark.plans.pipeline import (
            aggregate_stage,
            discover_templates,
            enrich_stage,
            read_routed,
            route_stage,
        )

        with span(tracer, "L.dims"):
            load_dims(spark, st)
        seq = read_sequences(spark, st)
        ckpt = os.path.join(out_dir, "parsed")
        with span(tracer, "L.scan"):
            noop(seq)
        with span(tracer, "L.parse"):
            noop(parse_stage(spark, seq, st.vocab_rows, st.source_heads))
        ckpt_bytes = write_checkpoint(spark, st, seq, ckpt, tracer)
        parsed = spark.read.parquet(ckpt)
        with span(tracer, "L.discover"):
            mapping = discover_templates(spark, parsed)
        counts = time_drain(spark, st, parsed, tracer)
        counts["checkpoint.bytes"] = ckpt_bytes
        with span(tracer, "L.ckpt_scan"):
            noop(parsed)
        with span(tracer, "L.enrich"):
            noop(enrich_stage(parsed, mapping, st.sources_df))
        with span(tracer, "L.route"):
            route_stage(
                enrich_stage(parsed, mapping, st.sources_df), out_dir, salt_buckets=self.salt_buckets
            )
        with span(tracer, "L.snapshot_read"):
            routed = read_routed(spark, out_dir)
        with span(tracer, "L.aggregate"):
            aggregate_stage(spark, routed, out_dir)
        return counts


class StreamMicrobatch(Workload):
    name = "stream-microbatch"
    rows_per_file = 15_000
    stream_files = 2
    rows = rows_per_file * stream_files
    cover = ("stream", "snapshot_read", "aggregate")

    def run_pass(self, spark, st, out_dir, tracer=None):
        from log_parser_cli_spark.plans.pipeline import aggregate_stage, read_routed
        from log_parser_cli_spark.streaming.stream import stream_replay

        with span(tracer, "stream"):
            q = stream_replay(
                spark, st.inp.fixture_dir, out_dir, st.mapping,
                max_files_per_trigger=1, available_now=True, stream_dir=st.inp.stream_dir,
            )
            try:
                q.awaitTermination(150)
            finally:
                if q.isActive:
                    q.stop()
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        with span(tracer, "snapshot_read"):
            routed = read_routed(spark, out_dir)
        with span(tracer, "aggregate"):
            aggregate_stage(spark, routed, out_dir)
        return {
            "rows": sum(p["numInputRows"] for p in progress),
            "batches": [
                {"batchDuration": p["batchDuration"], **p["durationMs"]} for p in progress
            ],
        }

    def check(self, st, out_dir, res):
        errs, layout = check_routed(st, out_dir, unique_docs=True)
        res.update(layout)
        if len(res["batches"]) != self.stream_files:
            errs.append(f"{len(res['batches'])} micro-batches, expected {self.stream_files}")
        return errs

    def layers(self, spark, st, out_dir, tracer):
        # the same rows as one bulk replay: its layer split, and the bulk
        # rate that stream.fixed_ms compares one micro-batch against
        replay_prefixes(spark, st, out_dir, tracer, ReplayBulk.salt_buckets)
        return setup_drain(spark, st, tracer)


class MatchRegex(Workload):
    name = "match-regex"
    rows = 200_000
    uses_mapping = False
    cover = ("L.dims", "L.count")

    def setup(self, spark, st, tracer=None):
        from log_parser_cli_spark.oracle import load_fixture_table

        load_dims(spark, st)
        st.library = load_fixture_table(st.inp.fixture_dir, "templates")

    @staticmethod
    def matched(spark, st):
        from log_parser_cli_spark.operators.matcher import match_templates
        from log_parser_cli_spark.operators.parse import parse_stage

        parsed = parse_stage(spark, read_sequences(spark, st), st.vocab_rows, st.source_heads)
        # the matcher needs only these columns (as in q_match_regex_counts)
        parsed = parsed.select("source", "content", "head_matched")
        return parsed, match_templates(spark, parsed, st.library)

    @staticmethod
    def count(matched):
        from pyspark.sql import functions as F

        return matched.groupBy(
            "source",
            F.coalesce(
                "template_id",
                F.when(~F.col("head_matched"), F.lit(UNPARSED)).otherwise(F.lit(UNMATCHED)),
            ).alias("template_id"),
        ).agg(F.count("*").alias("n_rows")).collect()

    def run_pass(self, spark, st, out_dir, tracer=None):
        load_dims(spark, st)
        _, matched = self.matched(spark, st)
        counts = {(r.source, r.template_id): r.n_rows for r in self.count(matched)}
        return {"rows": sum(counts.values()), "counts": counts}

    def check(self, st, out_dir, res):
        errs = []
        if res["counts"] != st.gt_event:
            errs.append("per-(source, template_id) counts differ from ground truth event ids")
        res["unparsed"] = sum(n for (_, t), n in res["counts"].items() if t == UNPARSED)
        return errs

    def layers(self, spark, st, out_dir, tracer):
        with span(tracer, "L.dims"):
            load_dims(spark, st)
        parsed, matched = self.matched(spark, st)
        with span(tracer, "L.scan"):
            noop(read_sequences(spark, st))
        with span(tracer, "L.parse"):
            noop(parsed)
        with span(tracer, "L.match"):
            noop(matched)
        with span(tracer, "L.count"):
            self.count(matched)
        return {}


def match_stats(library: list, counts: dict) -> tuple[float, float]:
    """(hit fraction of head-matched rows, regex evaluations per row) of
    per-(source, template_id) match counts: a row matched by the k-th
    template of its source cost k evaluations, an unmatched row the whole
    source library, an unparsed row none."""
    rank, size = {}, {}
    for src in {t["source"] for t in library}:
        ordered = sorted(
            (t for t in library if t["source"] == src),
            key=lambda t: (t["created_at"], t["template_id"]),
        )
        size[src] = len(ordered)
        rank.update({(src, t["template_id"]): k for k, t in enumerate(ordered, start=1)})
    evals = hits = parsed = 0
    for (src, tid), n in counts.items():
        if tid == UNPARSED:
            continue
        parsed += n
        if tid == UNMATCHED:
            evals += n * size.get(src, 0)
        else:
            hits += n
            evals += n * rank[(src, tid)]
    total = sum(counts.values())
    return (hits / parsed if parsed else 0.0), evals / total


WORKLOADS = {w.name: w for w in (ReplayBulk(), DiscoverCkpt(), StreamMicrobatch(), MatchRegex())}
