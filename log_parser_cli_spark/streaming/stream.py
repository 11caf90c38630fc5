"""Structured Streaming front-end for the parse pipeline.

The reference is a batch CLI that micro-batches a file in 50k-line chunks with
evolving state (SURVEY.md §2.9). Its *scoring* semantics — match a stream of
sequences against a frozen template library — map directly onto Structured
Streaming:

- ``stream_replay``: readStream over a token-table directory → per-micro-batch
  parse + enrich against the frozen mapping → append to the routed sink via
  ``foreachBatch`` + ``SnapshotTable.commit_batch`` (the same transactional
  table the batch route stage writes: a retried batch replaces its own dirs,
  a killed batch is never visible). The checkpointLocation gives exactly-once
  per-batch resume — the streaming twin of the batch manifest.

Tested with ``trigger(availableNow=True)`` so pytest runs bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_parser_cli_spark.operators.parse import parse_stage
from log_parser_cli_spark.plans.pipeline import ROUTED_COLS, enrich_stage, load_dims
from log_parser_cli_spark.plans.snapshots import SnapshotTable


def stream_replay(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    mapping_df: DataFrame,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    stream_dir: str | None = None,
):
    """Stream the sequences table through parse→enrich→route (frozen mapping).

    ``stream_dir``: stream token files from a separate directory (e.g. a
    many-file split of the corpus for multi-batch runs) while dims still
    load from ``fixture_dir``; default streams the fixture's own
    sequences file(s).

    Returns the started StreamingQuery; callers awaitTermination() it.
    """
    vocab_rows, source_heads, sources_df = load_dims(spark, fixture_dir)
    seq_schema = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet")).schema
    if stream_dir is None:
        # file-stream source wants a directory: stream the fixture dir,
        # filtered to the sequences file(s)
        stream = (
            spark.readStream.schema(seq_schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("pathGlobFilter", "sequences*.parquet")
            .parquet(fixture_dir)
        )
    else:
        stream = (
            spark.readStream.schema(seq_schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(stream_dir)
        )

    table = SnapshotTable(os.path.join(out_dir, "routed"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_stage(spark, batch_df, vocab_rows, source_heads)
        enriched = enrich_stage(parsed, mapping_df, sources_df)
        # foreachBatch is at-least-once on micro-batch retry; committing each
        # batch through the snapshot protocol keeps the sink idempotent (a
        # retried batch_id REPLACES its own prior dir) and atomic (a crash
        # mid-batch leaves an unreferenced staged dir — readers on
        # read_routed never observe a torn batch, unlike the previous
        # batch_id=N/ plain-dir layout).
        table.commit_batch(
            enriched.select(*ROUTED_COLS).withColumn("batch_id", F.lit(batch_id).cast("long")),
            batch_id=batch_id,
            partition_by=("sink", "template_id"),
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_mapping_dir(mapping_root: str) -> str | None:
    """Resolve the last fully-committed mapping version under ``mapping_root``.

    The library is committed as ``v<batch_id>/`` parquet dirs plus a pointer
    file ``LATEST`` that is updated LAST via atomic rename — so a crash at any
    point leaves the pointer on a complete, _SUCCESS-stamped version and the
    next batch resumes from it (never the bootstrap branch).
    """
    pointer = os.path.join(mapping_root, "LATEST")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        vdir = os.path.join(mapping_root, f.read().strip())
    if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
        return None  # pointer target vanished (manual tampering) → bootstrap
    return vdir


def read_mapping(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the current template library of a ``stream_with_discovery`` run."""
    vdir = latest_mapping_dir(os.path.join(out_dir, "mapping"))
    if vdir is None:
        raise FileNotFoundError(f"no committed mapping under {out_dir}/mapping")
    return spark.read.parquet(vdir)


def _commit_mapping(mapping: DataFrame, mapping_root: str, batch_id: int) -> None:
    """Versioned-dir + pointer commit: stage ``v<batch_id>-<hex>`` (a FRESH
    uniquely-named dir every attempt), fsync-rename the pointer onto it only
    after the write completes, then GC every other version dir. A retried
    batch therefore never overwrites the dir the pointer currently targets —
    the prior scheme did, so a crash mid-overwrite left the pointer on a
    _SUCCESS-less dir and the next batch silently re-bootstrapped via full
    discovery, renumbering template ids (round-3 ADVICE)."""
    import shutil
    import uuid

    vname = f"v{batch_id:012d}-{uuid.uuid4().hex[:8]}"
    vdir = os.path.join(mapping_root, vname)
    mapping.write.parquet(vdir)
    tmp = os.path.join(mapping_root, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(vname)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(mapping_root, "LATEST"))
    # foreachBatch commits serially, so every other version dir is either
    # superseded or an abandoned attempt — GC them all
    for d in os.listdir(mapping_root):
        if d.startswith("v") and d != vname:
            shutil.rmtree(os.path.join(mapping_root, d), ignore_errors=True)


def stream_with_discovery(
    spark: SparkSession,
    fixture_dir: str,
    stream_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Streaming twin of the reference's EVOLVING state (T2): each micro-batch
    extends the template library with its novel signatures before routing.

    The library lives as versioned parquet dirs + a LATEST pointer under
    ``out_dir/mapping`` (read via ``read_mapping``), committed atomically per
    batch (foreachBatch runs serially on the driver). Extension is
    IDEMPOTENT — re-extending with already-known signatures is a no-op — so an
    at-least-once batch retry converges to the same library, and the routed
    sink stays exactly-once via batch_id-tagged snapshot commits. Batch 1 bootstraps
    via full discovery; later batches only append (pipeline.ts
    pre-match-then-discover, sqlite-template-manager.ts:79-85).
    """
    from log_parser_cli_spark.plans.pipeline import discover_templates, extend_mapping

    vocab_rows, source_heads, sources_df = load_dims(spark, fixture_dir)
    seq_schema = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet")).schema
    mapping_root = os.path.join(out_dir, "mapping")
    os.makedirs(mapping_root, exist_ok=True)
    table = SnapshotTable(os.path.join(out_dir, "routed"))

    stream = (
        spark.readStream.schema(seq_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_stage(spark, batch_df, vocab_rows, source_heads)
        committed = latest_mapping_dir(mapping_root)
        if committed is not None:
            frozen = spark.read.parquet(committed)
            mapping = extend_mapping(spark, frozen, parsed)
        else:
            mapping = discover_templates(spark, parsed)
        # library is tiny; pin before writing. salt_share passes through
        # (batch 1's discovery shares; rows appended later carry NULL)
        rows = mapping.collect()
        mapping = spark.createDataFrame(rows, mapping.schema)
        _commit_mapping(mapping, mapping_root, batch_id)
        enriched = enrich_stage(parsed, mapping, sources_df)
        table.commit_batch(
            enriched.select(*ROUTED_COLS).withColumn("batch_id", F.lit(batch_id).cast("long")),
            batch_id=batch_id,
            partition_by=("sink", "template_id"),
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

