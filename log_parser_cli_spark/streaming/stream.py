"""Structured Streaming front-end for the parse pipeline.

The reference is a batch CLI that micro-batches a file in 50k-line chunks with
evolving state (SURVEY.md §2.9). Its *scoring* semantics — match a stream of
sequences against a template library — map directly onto Structured
Streaming. The chain is the streaming plan, so Spark plans it once per query:

    readStream over the token files → parse → enrich against a mapping pinned
    once per query → ``route_frame`` (the batch route's one payload exchange,
    at salt 1) → foreachBatch: ``SnapshotTable.commit_batch`` into ``out/routed``

A micro-batch goes through the batch route path, with one salt: its rows
hash-partition by (sink, template_id), so each template dir gets exactly one
file per batch and the writes spread over the exchange's tasks. The mapping
is a local relation (``pin``): its broadcast scans no file and re-runs no
lineage.

``commit_batch`` is the same transactional table the batch route stage
writes: a retried batch replaces its own dirs, a killed batch is never
visible. The checkpointLocation gives exactly-once per-batch resume — the
streaming twin of the batch manifest. The entry points differ only in where
the mapping comes from:

- ``stream_replay``: a frozen mapping; a micro-batch only commits.
- ``stream_with_discovery``: the plan ends at the parse; each batch's rows
  are persisted, extend the library (a ``SnapshotTable`` under
  ``out/mapping``), then route: one read and parse for two actions.

Tested with ``trigger(availableNow=True)`` so pytest runs bounded.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from log_parser_cli_spark.operators.parse import parse_stage
from log_parser_cli_spark.plans.pipeline import enrich_stage, load_dims, route_frame, sequences_schema
from log_parser_cli_spark.plans.snapshots import SnapshotTable


def pin(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` evaluated once, as a local relation: a plan that joins it
    broadcasts a ``LocalTableScan`` of the driver's rows (a job of a few ms)
    and re-runs none of ``df``'s lineage."""
    return spark.createDataFrame(df.toArrow())


def batch_frame(parsed: DataFrame, mapping: DataFrame, sinks: dict[str, str]) -> DataFrame:
    """The rows a micro-batch commits: ``parsed`` (streaming, or one batch's
    rows) enriched against ``mapping``, behind the batch route's payload
    exchange. The batch id is the snapshot manifest's, not a column."""
    # one salt: the exchange is keyed by (sink, template_id) alone, so each
    # template dir gets one file per batch and the batch's writes still spread
    # over the exchange's tasks; on 15k-row batches salt 4 wrote 65 files
    # instead of 49 and salt 16 wrote 119, both slower per batch
    return route_frame(enrich_stage(parsed, mapping, sinks), salt_buckets=1)


def _parsed_stream(
    spark: SparkSession, fixture_dir: str, max_files_per_trigger: int, stream_dir: str | None
) -> tuple[DataFrame, dict[str, str]]:
    """The streaming parse of the token files, and the ``sinks`` map."""
    vocab_rows, source_heads, sinks = load_dims(spark, fixture_dir)
    reader = spark.readStream.schema(sequences_schema(fixture_dir)).option("maxFilesPerTrigger", max_files_per_trigger)
    if stream_dir is None:
        # file-stream source wants a directory: stream the fixture dir,
        # filtered to the sequences file(s)
        stream = reader.option("pathGlobFilter", "sequences*.parquet").parquet(fixture_dir)
    else:
        stream = reader.parquet(stream_dir)
    return parse_stage(spark, stream, vocab_rows, source_heads), sinks


def _commit(out_dir: str, routed: DataFrame, batch_id: int) -> None:
    # foreachBatch is at-least-once on micro-batch retry; committing each
    # batch through the snapshot protocol keeps the sink idempotent (a retried
    # batch_id REPLACES its own prior dir) and atomic (a crash mid-batch
    # leaves an unreferenced staged dir — readers on read_routed never
    # observe a torn batch)
    SnapshotTable(os.path.join(out_dir, "routed")).commit_batch(
        routed, batch_id=batch_id, partition_by=("sink", "template_id")
    )


def _start(frame: DataFrame, out_dir: str, process_batch: Callable[[DataFrame, int], None], available_now: bool):
    """Start the checkpointed query over the streaming ``frame``."""
    checkpoint = os.path.join(out_dir, "_stream_checkpoint")
    writer = frame.writeStream.foreachBatch(process_batch).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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

    The chain is built here, once per query, over the stream and
    ``mapping_df`` pinned once; a micro-batch only commits its routed rows.

    Returns the started StreamingQuery; callers awaitTermination() it.
    """
    parsed, sinks = _parsed_stream(spark, fixture_dir, max_files_per_trigger, stream_dir)
    routed = batch_frame(parsed, pin(spark, mapping_df), sinks)
    return _start(routed, out_dir, lambda batch_df, batch_id: _commit(out_dir, batch_df, batch_id), available_now)


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

    The query's plan is the parse; a batch's parsed rows are persisted for
    its two actions (the library's signature aggregation, then the route
    write), so each input row is read and parsed once.

    The library is ``SnapshotTable(out_dir/mapping)``, overwritten once per
    batch (foreachBatch runs serially on the driver); the manifest link is
    the commit point, so a crash mid-write leaves the previous library
    readable. Extension is IDEMPOTENT — re-extending with already-known
    signatures is a no-op — so an at-least-once batch retry converges to the
    same library, and the routed sink stays exactly-once via batch_id-tagged
    snapshot commits. The first batch bootstraps via full discovery; later
    batches only append (pipeline.ts pre-match-then-discover,
    sqlite-template-manager.ts:79-85).
    """
    from log_parser_cli_spark.plans.pipeline import discover_templates, extend_mapping

    parsed, sinks = _parsed_stream(spark, fixture_dir, max_files_per_trigger, stream_dir)
    library = SnapshotTable(os.path.join(out_dir, "mapping"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if library.current_version() is None:
                mapping = discover_templates(spark, batch_df)
            else:
                mapping = extend_mapping(spark, library.read(spark), batch_df)
            # library is tiny; pin before writing. salt_share passes through
            # (the first batch's discovery shares; rows appended later carry NULL)
            mapping = pin(spark, mapping)
            library.commit_overwrite(mapping)
            library.vacuum()
            _commit(out_dir, batch_frame(batch_df, mapping, sinks), batch_id)
        finally:
            batch_df.unpersist()

    return _start(parsed, out_dir, process_batch, available_now)
