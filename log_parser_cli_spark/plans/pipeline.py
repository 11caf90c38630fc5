"""The parse → enrich → route → aggregate pipeline (the engine's flagship job).

Spark-first re-expression of the reference CLI's full run (SURVEY.md §3.1-3.2):

| reference                                   | here                                  |
|---------------------------------------------|---------------------------------------|
| stream file in 50k-line batches             | partitioned scan of the token table   |
| LLM template discovery per batch            | distinct-signature agg + driver Drain |
| replay: re-match all chunks vs final library| single pass vs the frozen mapping     |
| per-library chunk fan-out (chunk-manager)   | partitionBy(sink, template_id) write  |
| match counts + conflict/failure reports     | sink_counts/ntok_hist/failures tables |

Scale shape (designed for 10^12 rows / 1000 executors, exercised on local[N]):
- stage boundaries are shuffle exchanges; the only wide op on the full fact
  stream is the final fan-out repartition (salted: sink × template × doc-hash
  salt) and the aggregate shuffle, which runs on pre-combined map-side rows;
- the template mapping is broadcast (KB-MB) → enrichment is one
  broadcast-hash join, no shuffle; the sink is a literal map lookup;
- discovery aggregates (source, content_sig) — cardinality ~templates, not
  rows — then runs Drain on the driver over that tiny set;
- AQE handles the deliberately-skewed hot source; the salt bounds the largest
  fan-out task, and is sized per template from discovery's row counts so cold
  templates are not split into many tiny files.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from log_parser_cli_spark.operators.drain import DrainCluster, cluster_signatures
from log_parser_cli_spark.operators.parse import parse_stage, parsed_schema
from log_parser_cli_spark.plans.checkpoint import Manifest, source_digest
from log_parser_cli_spark.plans.snapshots import SnapshotTable

UNPARSED = "__UNPARSED__"
UNMATCHED = "__UNMATCHED__"

# Schema of every template mapping. ``salt_share``: the template's discovery
# row count over the hottest template's (1.0 for the hottest), NULL where
# unknown, as ``read_mapping`` reads it from a dir written before it existed.
MAPPING_SCHEMA = (
    "source string, content_sig string, template_id string, template_star string,"
    " salt_share double"
)
ROUTED_COLS = (
    "doc_id", "tokens", "n_tok", "source", "sink", "template_id",
    "template_star", "variables", "n_vars",
)
# The aggregate stage's one grouping: the n_tok histogram's key plus
# template_star, which depends only on the template, so the groups stay those
# of (source, sink, template_id, n_tok).
AGG_GRAIN = ("source", "sink", "template_id", "template_star", "n_tok")
# Driver bound on the distinct signatures discovery collects per source.
MAX_SIGNATURES_PER_SOURCE = 10_000


@dataclass
class PipelineResult:
    out_dir: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)


def _observe(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """The pipeline's one way to count rows: attach named aggregate metrics to
    ``df``. The action that consumes the returned frame first (a write, a
    collect, the fill of a persisted cache) computes them in the same pass —
    no job of its own. ``Observation.get`` blocks until that action ends."""
    obs = Observation()
    return df.observe(obs, *(c.alias(name) for name, c in metrics.items())), obs


def _reject_duplicates(table, key: str, name: str) -> None:
    """Raise ValueError naming every ``key`` value that ``table`` holds twice."""
    import pyarrow.compute as pc

    counts = table.group_by(key).aggregate([(key, "count", pc.CountOptions("all"))])
    dups = counts.filter(pc.field(f"{key}_count") > 1)[key].to_pylist()
    if dups:
        raise ValueError(f"{name} lists {key} more than once: {dups}")


def load_dims(spark: SparkSession, fixture_dir: str) -> tuple[list[tuple[int, str]], dict[str, tuple[str, int]], dict[str, str]]:
    """Load the small dims on the driver with pyarrow, submitting no job:
    ``vocab_rows`` ((token_id, text) in file order), ``source_heads``
    (source → (head_pattern, content_group)) and ``sinks`` (source → sink).
    Raises ValueError when ``vocab.parquet`` repeats a token_id (the vocab
    would render whichever word came last) or ``sources.parquet`` a source
    (its head and sink would be whichever row came last)."""
    import pyarrow.parquet as pq

    vocab = pq.read_table(os.path.join(fixture_dir, "vocab.parquet"), columns=["token_id", "text"])
    sources = pq.read_table(os.path.join(fixture_dir, "sources.parquet"))
    _reject_duplicates(vocab, "token_id", "vocab.parquet")
    _reject_duplicates(sources, "source", "sources.parquet")
    vocab_rows = list(zip(vocab["token_id"].to_pylist(), vocab["text"].to_pylist()))
    source_heads = {
        src: (head, int(group))
        for src, head, group in zip(
            *(sources[c].to_pylist() for c in ("source", "head_pattern", "content_group"))
        )
    }
    return vocab_rows, source_heads, dict(zip(sources["source"].to_pylist(), sources["sink"].to_pylist()))


def sequences_schema(fixture_dir: str) -> StructType:
    """The ``sequences`` schema of its parquet footer, read by pyarrow: no job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(os.path.join(fixture_dir, "sequences.parquet")))


def read_sequences(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """The fixture's ``sequences`` table under ``sequences_schema``."""
    return spark.read.schema(sequences_schema(fixture_dir)).parquet(os.path.join(fixture_dir, "sequences.parquet"))


def read_parsed(spark: SparkSession, fixture_dir: str, path: str) -> DataFrame:
    """The parse checkpoint at ``path`` of the fixture's sequences, under
    ``parse_stage``'s output schema for them: no schema-inference job."""
    return spark.read.schema(parsed_schema(sequences_schema(fixture_dir))).parquet(path)


def read_mapping(spark: SparkSession, path: str) -> DataFrame:
    """The mapping dir at ``path`` under ``MAPPING_SCHEMA``: no schema
    inference job, and a dir written without ``salt_share`` reads it NULL."""
    return spark.read.schema(MAPPING_SCHEMA).parquet(path)


def _top_signatures(parsed: DataFrame, cap: int, known: DataFrame | None = None) -> list:
    """Collected (source, content_sig, n_rows, first_doc) of the head-matched
    rows, minus the (source, content_sig) pairs already in ``known``, capped at
    ``cap`` per source: top-N by row count, deterministic tie-break on
    first-seen doc_id then signature."""
    from pyspark.sql import Window

    stats = (
        parsed.filter(F.col("head_matched"))
        .groupBy("source", "content_sig")
        .agg(F.count("*").alias("n_rows"), F.min("doc_id").alias("first_doc"))
    )
    if known is not None:
        keys = ["source", "content_sig"]
        stats = stats.join(known.select(*keys), keys, "left_anti")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_rows"), F.asc("first_doc"), F.asc("content_sig")
    )
    return (
        stats.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
        .collect()
    )


def _cluster_by_source(sig_rows: list) -> Iterator[tuple[str, int, DrainCluster]]:
    """Drain-cluster collected signature rows per source. Yields (source,
    ordinal, cluster) with dense 1-based ordinals in (first_seen,
    template_words) order, sources in sorted order."""
    per_source: dict[str, list] = {}
    for r in sig_rows:
        per_source.setdefault(r.source, []).append((r.content_sig, int(r.n_rows), r.first_doc))
    for source in sorted(per_source):
        # first-seen order = lexicographic doc-id rank (zero-padded ids ⇒
        # arrival order; arbitrary non-numeric ids still order deterministically
        # — never parse doc_id arithmetic)
        by_doc = sorted(per_source[source], key=lambda t: (t[2], t[0]))
        ranked = [(sig, n, rank) for rank, (sig, n, _doc) in enumerate(by_doc)]
        clusters = cluster_signatures(ranked)
        order = sorted(clusters, key=lambda c: (c.first_seen, c.template_words))
        for idx, cluster in enumerate(order, start=1):
            yield source, idx, cluster


def discover_templates(spark: SparkSession, parsed: DataFrame) -> DataFrame:
    """Distinct-signature aggregation + driver-side Drain → signature mapping.

    Returns the mapping DataFrame (source, content_sig, template_id,
    template_star, salt_share) — the frozen "template library" equivalent.
    Deterministic: ids ordered by first-seen doc_id then signature (SURVEY.md
    §7.4). ``salt_share`` keeps the row counts the aggregation already holds:
    the template's rows ÷ the hottest template's rows, so ``route_stage``
    salts a template by ``ceil(salt_buckets × salt_share)``.

    Driver safety: the collected set is CAPPED at ``MAX_SIGNATURES_PER_SOURCE``
    per source (top-N by row count, deterministic tie-break) — if mask classes
    flap on pathological vocab and distinct signatures explode, the driver
    stays bounded and overflow signatures simply get no mapping row, routing
    those rows to UNMATCHED/sink-failures (the reference's unresolved-samples
    path, pipeline.ts:142).
    """
    templates = [
        (source, f"{source}#{idx}", cluster)
        for source, idx, cluster in _cluster_by_source(
            _top_signatures(parsed, MAX_SIGNATURES_PER_SOURCE)
        )
    ]
    hottest = max((c.n_rows for _, _, c in templates), default=1)
    mapping_rows = [
        (source, sig, tid, cluster.template_star, cluster.n_rows / hottest)
        for source, tid, cluster in templates
        for sig in cluster.signatures
    ]
    return spark.createDataFrame(mapping_rows, MAPPING_SCHEMA)


def extend_mapping(
    spark: SparkSession, frozen_mapping: DataFrame, parsed_new: DataFrame
) -> DataFrame:
    """Incremental library evolution: extend a frozen mapping with a new batch.

    The reference persists ``nextTemplateNumber`` and, on later runs, matches
    against the existing library first and appends templates only for what is
    still unmatched, never renumbering or widening stored templates
    (sqlite-template-manager.ts:79-85, pipeline.ts:109-121). Here:

    - existing (source, content_sig) rows pass through BYTE-IDENTICAL,
    - novel signatures that are star-compatible with an existing cluster
      (same word count, every non-``<*>`` template word equal) map to that
      existing template_id — the "pre-match against known templates" step,
    - the remaining truly-novel signatures are Drain-clustered per source and
      appended with dense ids ``source#N+1...`` (N = current max ordinal),
      deterministic first-seen order.

    Both driver-side sets (frozen distinct templates, capped novel signatures)
    are small; the new batch is scanned once. Appended rows carry a NULL
    ``salt_share`` (routed at the full salt).
    """
    from log_parser_cli_spark.functions.masking import signature_to_star
    from log_parser_cli_spark.plans.export import template_ordinal

    novel = _top_signatures(parsed_new, MAX_SIGNATURES_PER_SOURCE, known=frozen_mapping)
    if not novel:
        return frozen_mapping
    frozen_rows = frozen_mapping.collect()

    # existing clusters per source: (template_id, star words), max ordinal
    clusters_by_source: dict[str, list[tuple[str, list[str]]]] = {}
    max_ordinal: dict[str, int] = {}
    seen_tid: set[str] = set()
    for r in frozen_rows:
        if r.template_id not in seen_tid:
            seen_tid.add(r.template_id)
            clusters_by_source.setdefault(r.source, []).append(
                (r.template_id, r.template_star.split(" "))
            )
        ordinal = template_ordinal(r.template_id) or 0
        max_ordinal[r.source] = max(max_ordinal.get(r.source, 0), ordinal)

    def _id_order(entry: tuple[str, list[str]]):
        tid = entry[0]
        ordinal = template_ordinal(tid)
        return (0, ordinal, tid) if ordinal is not None else (1, 0, tid)

    # star-compat pre-match scans clusters in dense-id (discovery/precedence)
    # order — collect() order is parquet file-listing order, NOT deterministic
    for src in clusters_by_source:
        clusters_by_source[src].sort(key=_id_order)

    def star_compatible(star_words: list[str], sig_words: list[str]) -> bool:
        return len(star_words) == len(sig_words) and all(
            s == "<*>" or s == w for s, w in zip(star_words, sig_words)
        )

    new_rows: list[tuple[str, str, str, str, None]] = []
    leftover = []
    for r in novel:
        sig_star_words = signature_to_star(r.content_sig).split(" ")
        target = None
        for tid, star_words in clusters_by_source.get(r.source, []):
            if star_compatible(star_words, sig_star_words):
                target = (tid, " ".join(star_words))
                break
        if target is not None:
            new_rows.append((r.source, r.content_sig, target[0], target[1], None))
        else:
            leftover.append(r)
    # truly-novel clusters: Drain per source, appended ids source#N+1...
    for source, idx, cluster in _cluster_by_source(leftover):
        tid = f"{source}#{max_ordinal.get(source, 0) + idx}"
        for sig in cluster.signatures:
            new_rows.append((source, sig, tid, cluster.template_star, None))
    appended = spark.createDataFrame(new_rows, MAPPING_SCHEMA)
    return frozen_mapping.unionByName(appended)


def refine_mapping(
    spark: SparkSession,
    parsed: DataFrame,
    mapping: DataFrame,
    seed_library: list[dict] | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Route the discovered clusters through the reference's full
    integrate → conflict → delete → re-queue machine (pipeline.ts:130-165,
    355-451, 561-612) and return the refined signature mapping.

    Spark-first shape: the state machine runs over the DISTINCT-SIGNATURE
    dimension (cardinality ~templates, never the fact stream). One collect
    brings each signature's first-seen content to the driver; the machine
    (``library_ops.discover_with_refine``) and the final re-match run there
    through the matcher's kernel, so the job count does not grow with the
    number of candidates. Candidates are the Drain clusters exported as
    anchored regex templates (plans/export.py) in discovery order. After the
    queue drains, the FINAL library re-matches every signature representative
    — the reference's replay-vs-final-library semantics — so orphans
    re-queued after their rightful template was already integrated still
    land correctly. Signatures no surviving template matches get no mapping
    row (→ UNMATCHED, the unresolved-samples path, pipeline.ts:451-456). A
    refined template's ``salt_share`` is discovery's: its rows ÷ the hottest
    refined template's rows, from the row counts the one collect carries.

    ``seed_library``: pre-existing template dicts (template_id, source,
    pattern, created_at, template_star) — e.g. a carried-over library whose
    overbroad entries the machine should detect and delete.

    Returns (refined mapping DataFrame, per-candidate reports).
    """
    from log_parser_cli_spark.operators.matcher import match_batch
    from log_parser_cli_spark.plans.export import export_template_library
    from log_parser_cli_spark.plans.library_ops import discover_with_refine

    sig_agg = (
        parsed.filter(F.col("head_matched"))
        .groupBy("source", "content_sig")
        .agg(F.min(F.struct("doc_id", "content")).alias("_f"), F.count("*").alias("n_rows"))
        .select(
            F.col("_f.doc_id").alias("doc_id"),
            "source",
            "content_sig",
            F.col("_f.content").alias("content"),
            "n_rows",
        )
    )
    reps = sig_agg.collect()
    sig_df = spark.createDataFrame(reps, sig_agg.schema)
    enriched_sigs = sig_df.join(F.broadcast(mapping), ["source", "content_sig"])
    candidates = export_template_library(spark, enriched_sigs)
    candidates.sort(key=lambda t: (t["source"], t["created_at"], t["template_id"]))

    res = discover_with_refine(
        seed_library or [],
        [(r.doc_id, r.source, r.content) for r in reps],
        candidates,
    )
    library = res["library"]
    tids, _ = match_batch([r.content for r in reps], [r.source for r in reps], library)
    star_of = {t["template_id"]: t.get("template_star", "") for t in library}
    rows_of: dict[str, int] = {}
    for r, tid in zip(reps, tids):
        if tid is not None:
            rows_of[tid] = rows_of.get(tid, 0) + r.n_rows
    hottest = max(rows_of.values(), default=1)
    rows = [
        (r.source, r.content_sig, tid, star_of.get(tid, ""), rows_of[tid] / hottest)
        for r, tid in zip(reps, tids)
        if tid is not None
    ]
    refined = spark.createDataFrame(rows, MAPPING_SCHEMA)
    return refined, res["reports"]


def enrich_stage(parsed: DataFrame, mapping: DataFrame, sinks: dict[str, str]) -> DataFrame:
    """Enrichment (J1): signature → template by a broadcast-hash join against
    the tiny mapping; source → sink by a literal map lookup (NULL for a source
    ``sinks`` lacks). Variable extraction is a JVM higher-order-function
    expression (zip content words against the template's <*> skeleton)."""
    template_id = F.when(~F.col("head_matched"), F.lit(UNPARSED)).otherwise(
        F.coalesce(F.col("template_id"), F.lit(UNMATCHED))
    )
    template_star = F.coalesce(F.col("template_star"), F.lit(""))
    sink_of = F.create_map(*[F.lit(x) for kv in sorted(sinks.items()) for x in kv])
    # two projections, not one analysis per withColumn: plan building sits on
    # each micro-batch's critical path
    return (
        parsed.join(F.broadcast(mapping), ["source", "content_sig"], "left")
        .withColumns(
            {
                "template_id": template_id,
                "sink": F.when(
                    template_id.isin(UNPARSED, UNMATCHED), F.lit("sink-failures")
                ).otherwise(sink_of[F.col("source")]),
                "template_star": template_star,
                # word-level variables: positions where the template skeleton
                # disagrees with the content (i.e. <*>-bearing words). v1..vN
                # naming (F7 semantics). A non-empty star is the joined one.
                "word_vars": F.when(
                    template_star == "", F.expr("CAST(array() AS array<string>)")
                ).otherwise(
                    F.expr(
                        "filter(zip_with(split(content, ' '), split(template_star, ' '),"
                        " (w, t) -> IF(t = w, NULL, w)), x -> x IS NOT NULL)"
                    )
                ),
            }
        )
        .withColumns(
            {
                "variables": F.expr(
                    "map_from_entries(transform(word_vars,"
                    " (w, i) -> struct(concat('v', i + 1) AS key, w AS value)))"
                ),
                "n_vars": F.size("word_vars"),
            }
        )
    )


def route_frame(enriched: DataFrame, salt_buckets: int) -> DataFrame:
    """The routed rows behind the route stage's ONE payload exchange:
    hash-partitioned by (sink, template_id, salt).

    Salting: a template's rows spread over ``ceil(salt_buckets × salt_share)``
    salts keyed by hash(doc_id). The hottest template (share 1.0) gets all
    ``salt_buckets``, so the hot source cannot serialize into one writer task;
    a template with share ≤ 1/``salt_buckets`` gets one salt, hence one file
    per (sink, template_id) dir. A NULL share — UNPARSED and UNMATCHED rows
    (no mapping row joined), rows added by ``extend_mapping``, a mapping dir
    written before the column existed — gets the full
    ``salt_buckets``. The share rides in the mapping's broadcast join, so
    sizing adds no job, join or exchange.
    """
    salts = F.coalesce(F.ceil(F.col("salt_share") * salt_buckets), F.lit(salt_buckets))
    # content/content_sig are derivable (render+mask of tokens) — not carried
    # through the fan-out shuffle; tokens ride untouched.
    return (
        enriched.select(*ROUTED_COLS, "salt_share")
        .repartition(F.col("sink"), F.col("template_id"), F.pmod(F.hash("doc_id"), salts))
        .select(*ROUTED_COLS)
    )


def route_stage(
    enriched: DataFrame,
    out_dir: str,
    salt_buckets: int = 16,
    retain_snapshots: int = 2,
) -> dict[str, int]:
    """Deterministic fan-out write partitioned by (sink, template_id) — K1,
    salted per template by ``route_frame``. Original ``tokens`` ride along
    untouched.

    The write is a SNAPSHOT COMMIT (plans/snapshots.py): data lands in an
    immutable uniquely-named dir and becomes visible only when the manifest
    links in atomically — SURVEY §2.1's Iceberg prescription for K1, vendored.
    A crashed or concurrent re-route never leaves readers a half-written or
    mixed fan-out; the previous snapshot stays readable until vacuumed.

    Returns the written rows' counts (``rows``, ``unparsed``, ``unmatched``),
    observed on the write itself. The observation sits above the exchange, so
    the column pruning below it is unaffected.
    """
    routed, obs = _observe(
        route_frame(enriched, salt_buckets),
        rows=F.count(F.lit(1)),
        unparsed=F.count_if(F.col("template_id") == UNPARSED),
        unmatched=F.count_if(F.col("template_id") == UNMATCHED),
    )
    table = SnapshotTable(os.path.join(out_dir, "routed"))
    table.commit_overwrite(routed, partition_by=("sink", "template_id"))
    # auto-vacuum is safe against concurrent committers: never-referenced
    # dirs are age-gated (snapshots.vacuum orphan_grace_s); retention is a
    # caller policy (jobs.py --retain-snapshots / --vacuum for maintenance)
    table.vacuum(keep_last=retain_snapshots)
    return obs.get


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current committed snapshot of a run's routed table (batch AND
    streaming sinks both commit through SnapshotTable). Raises
    FileNotFoundError when no snapshot is committed — staged dirs of a writer
    that crashed before its first commit point mean "table does not exist
    yet", never "read the partial bytes"."""
    return SnapshotTable(os.path.join(out_dir, "routed")).read(spark)


def routed_data_dirs(out_dir: str) -> list[str]:
    """Absolute physical dirs (sink=/template_id= roots) of the current routed
    snapshot — for file-layout inspection (skew reports, tests)."""
    root = os.path.join(out_dir, "routed")
    manifest = SnapshotTable(root).manifest()
    if manifest is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    return [os.path.join(root, d) for d in manifest["data_dirs"]]


def aggregate_stage(spark: SparkSession, routed: DataFrame, out_dir: str) -> dict[str, str]:
    """Per-sink aggregates: template counts (A2) + n_tok histogram (A13), from
    ONE scan of ``routed``, the read-back of the routed snapshot.

    One map-side-combinable group-by at the histogram grain (``AGG_GRAIN``,
    ``count(*) AS cnt``) is collected to the driver: a row per template ×
    distinct line length, so its size does not grow with the input rows.
    ``ntok_hist`` is that table without ``template_star``; ``sink_counts`` is
    its roll-up on the driver (``n_sequences = Σ cnt``, ``sum_n_tok =
    Σ n_tok × cnt``). The driver writes both tables with pyarrow, one zstd
    ``part-00000.parquet`` each, replacing what the dirs held: the stage's
    only jobs are the scan's. Raises ValueError when a (source, sink,
    template_id) carries more than one ``template_star``: its ``sink_counts``
    row would split and its ``ntok_hist`` keys repeat.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = ["source", "sink", "template_id"]
    grain = routed.groupBy(*AGG_GRAIN).agg(F.count("*").alias("cnt")).toArrow()
    tok = pc.multiply_checked(grain["n_tok"].cast(pa.int64()), grain["cnt"])
    rolled = (
        grain.append_column("tok", tok)
        .group_by([*keys, "template_star"])
        .aggregate([("cnt", "sum"), ("tok", "sum")])
    )
    stars = rolled.group_by(keys).aggregate([("template_star", "count", pc.CountOptions("all"))])
    split = stars.filter(pc.field("template_star_count") > 1)
    if split.num_rows:
        raise ValueError(
            f"template_star is not a function of the template: {split.select(keys).to_pylist()}"
            " each carry several stars"
        )
    counts = rolled.select([*keys, "template_star", "cnt_sum", "tok_sum"]).rename_columns(
        [*keys, "template_star", "n_sequences", "sum_n_tok"]
    )
    tables = {"sink_counts": counts, "ntok_hist": grain.select([*keys, "n_tok", "cnt"])}
    paths = {name: os.path.join(out_dir, name) for name in tables}
    for name, path in paths.items():
        # one file, written under a `.`-prefixed name (Spark and pyarrow
        # readers skip it) and renamed in, so no reader sees a torn file
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        tmp = os.path.join(path, ".part-00000.parquet.tmp")
        pq.write_table(tables[name], tmp, compression="zstd")
        os.replace(tmp, os.path.join(path, "part-00000.parquet"))
    return paths


def run_replay(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    mapping_df: DataFrame,
    salt_buckets: int = 16,
) -> int:
    """Lean scoring pass: parse → enrich (frozen mapping) → route → aggregate.

    The reference's replay phase (replay-matcher.ts:40-111): all counting runs
    against an immutable template library. One wide action (the fan-out write)
    materializes everything — parse streams straight into the salted shuffle,
    no intermediate persist — then the per-sink aggregates reduce the routed
    files. Returns the routed row count, observed on the route write.
    """
    vocab_rows, source_heads, sinks = load_dims(spark, fixture_dir)
    parsed = parse_stage(spark, read_sequences(spark, fixture_dir), vocab_rows, source_heads)
    enriched = enrich_stage(parsed, mapping_df, sinks)
    counts = route_stage(enriched, out_dir, salt_buckets=salt_buckets)
    aggregate_stage(spark, read_routed(spark, out_dir), out_dir)
    return counts["rows"]


def run_pipeline(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    run_id: str = "run-1",
    resume: bool = False,
    salt_buckets: int = 16,
    mapping_df: DataFrame | None = None,
    seq_df: DataFrame | None = None,
    checkpoint_parse: bool = True,
    derive_heads: bool = False,
    refine: bool = False,
    seed_library: list[dict] | None = None,
    retain_snapshots: int = 2,
) -> PipelineResult:
    """Full parse → enrich → route → aggregate job.

    ``mapping_df``: pass a frozen template mapping to run match-only replay
    (the reference's --match-only path); otherwise discovery runs first.
    ``resume=True`` skips stages committed in the checkpoint manifest
    (requires ``checkpoint_parse=True``, the default) and raises ValueError
    when other engine code (another ``source_digest``) committed them.
    ``checkpoint_parse=False`` keeps the parsed stream on local storage
    (persist DISK_ONLY — a memory-level cache thrashes against the route
    shuffle's execution memory) instead of materializing to parquet — faster
    for one-shot runs, but a crash then restarts from stage 1.
    ``seq_df`` replaces the fixture's ``sequences`` read and must keep its
    schema: the parse checkpoint is read back under it.
    ``derive_heads=True`` ignores the configured head patterns and derives
    them from the token table itself (the reference's ensureHeadPattern step,
    manager.ts:31-213) before parsing.
    ``refine=True`` routes the discovered clusters through the full
    conflict→delete→requeue candidate queue (``refine_mapping``) before
    routing, optionally against a carried-over ``seed_library``; per-candidate
    reports land in ``out_dir/refine_reports.json``.

    Each stage's ``_manifest.json`` entry records the row counts observed on
    its own action (``_observe``): parse ``rows``/``head_matched``, discover
    ``templates``, route ``rows``/``unparsed``/``unmatched``.
    ``result.counts["parsed"]`` is the parse ``rows`` of a run that parsed.
    """
    result = PipelineResult(out_dir=out_dir)
    manifest = Manifest(out_dir, run_id)
    if resume and manifest.digest != source_digest():
        raise ValueError(
            f"cannot resume {out_dir}: its stages were written by engine source "
            f"{manifest.digest}, this is {source_digest()}"
        )
    vocab_rows, source_heads, sinks = load_dims(spark, fixture_dir)
    if seq_df is None:
        seq_df = read_sequences(spark, fixture_dir)
    if derive_heads:
        from log_parser_cli_spark.operators.head_derive import derive_heads_stage

        source_heads = derive_heads_stage(spark, seq_df, vocab_rows)

    parsed_path = os.path.join(out_dir, "parsed")

    def stage(name: str, fn):
        if resume and manifest.is_done(name):
            result.stages_skipped.append(name)
            return
        t0 = time.time()
        info = fn() or {}
        manifest.commit(name, wall_ms=(time.time() - t0) * 1000.0, **info)
        result.stages_run.append(name)

    # -- stage 1: parse (checkpointed so downstream stages & resume reuse it)
    parsed_cached: DataFrame | None = None
    parse_obs: Observation | None = None

    def do_parse():
        nonlocal parsed_cached, parse_obs
        parsed, parse_obs = _observe(
            parse_stage(spark, seq_df, vocab_rows, source_heads),
            rows=F.count(F.lit(1)),
            head_matched=F.count_if("head_matched"),
        )
        if checkpoint_parse:
            parsed.write.mode("overwrite").parquet(parsed_path)
            return parse_obs.get
        # One-shot mode: persist OFF-HEAP on local storage, not in executor
        # memory. The default MEMORY_AND_DISK cache of the fat parsed stream
        # (19.2M rows × tokens+content) competes with the route shuffle's
        # execution memory and thrashes: measured route 33s from a memory
        # cache vs 23s from DISK_ONLY at bench scale (guide §5 — cached data
        # competes with execution memory), and the full no-persist recompute
        # alternative re-pays the 11s Python parse per consumer (measured
        # 53-56s total vs ~46s). The observation fires on the first action
        # that fills the cache: discovery's aggregation, or the route write
        # in match-only mode.
        from pyspark import StorageLevel

        parsed_cached = parsed.persist(StorageLevel.DISK_ONLY)
        return {}

    stage("parse", do_parse)
    parsed = parsed_cached if parsed_cached is not None else read_parsed(spark, fixture_dir, parsed_path)

    # -- stage 2: discover (skipped in match-only mode)
    mapping_path = os.path.join(out_dir, "template_mapping")
    if mapping_df is None:

        def do_discover():
            mapping = discover_templates(spark, parsed)
            info: dict = {}
            if refine:
                import json as _json

                mapping, reports = refine_mapping(
                    spark, parsed, mapping, seed_library=seed_library
                )
                with open(os.path.join(out_dir, "refine_reports.json"), "w") as f:
                    _json.dump(reports, f, indent=1)
                info["refine_accepted"] = sum(1 for r in reports if r["accepted"])
                info["refine_deleted"] = sorted({d for r in reports for d in r["deleted_ids"]})
            mapping, obs = _observe(mapping, templates=F.size(F.collect_set("template_id")))
            mapping.write.mode("overwrite").parquet(mapping_path)
            return {**info, **obs.get}

        stage("discover", do_discover)
        mapping_df = read_mapping(spark, mapping_path)

    # -- stage 3: enrich + route
    enriched = enrich_stage(parsed, mapping_df, sinks)

    stage(
        "route",
        lambda: route_stage(
            enriched, out_dir, salt_buckets=salt_buckets, retain_snapshots=retain_snapshots
        ),
    )

    # -- stage 4: aggregate from the routed files. Counter-intuitive but
    #    measured: the aggregates touch 5 tiny columns, so a column-pruned
    #    re-read of the fan-out parquet (no tokens, no variables) is ~2×
    #    cheaper than re-deriving the enriched stream from the parse cache —
    #    and the gap widens at scale where the cache may not be resident.
    def do_aggregate():
        return aggregate_stage(spark, read_routed(spark, out_dir), out_dir)

    stage("aggregate", do_aggregate)
    if parse_obs is not None:
        result.counts["parsed"] = parse_obs.get["rows"]
        if not checkpoint_parse:
            manifest.commit("parse", **{**manifest.stage_info("parse"), **parse_obs.get})
            parsed_cached.unpersist()
    return result
