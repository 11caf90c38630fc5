"""Template-library maintenance ops: upsert, capped match store, orphan
re-queue, conflict detection, report sinks.

These are the reference's SQLite-backed library mutations re-expressed as
DataFrame set operations over small dimension tables (template cardinality is
tiny; the fact stream never flows through here):

- ``merge_templates``  — K5: INSERT .. ON CONFLICT(id) DO UPDATE
  (sqlite-template-manager.ts:90-110) as anti-join + union (MERGE INTO on an
  Iceberg/Delta deployment).
- ``append_matches_capped`` — K6+A9/W2: transactional match append with the
  newest-N retention cap (sqlite-template-manager.ts:121-147, 308-331).
- ``requeue_orphans`` — E2: rows owned by deleted templates leave the matched
  set and re-enter the pending queue (pipeline.ts:561-612); E4 union.
- ``exclude_seen`` — E3: left-anti seen-sample exclusion (manager.ts:112).
- ``detect_conflicts`` — J3: a candidate template pattern run over the stored
  samples of OTHER templates; hits grouped by owning template
  (conflict-detector.ts:30-64). The sample side is bounded (≤cap/library) and
  broadcast; the candidate is one pattern → rlike filter, no crossJoin blowup.
- ``write_match_report`` / ``write_conflict_report`` / ``write_failure_report``
  — K2/K3/K4 sinks (report-writer.ts:19-50, report-writers.ts:16-56).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from log_parser_cli_spark.functions.templates import to_jvm_pattern


def merge_templates(existing: DataFrame, updates: DataFrame, key: str = "template_id") -> DataFrame:
    """Upsert semantics: rows in ``updates`` replace same-key rows in
    ``existing``; everything else unions through (K5)."""
    kept = existing.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates)


def append_matches_capped(
    existing: DataFrame,
    new_matches: DataFrame,
    cap: int = 1000,
    library_col: str = "source",
    order_col: str = "line_no",
) -> DataFrame:
    """Append matches, dedupe, keep only the newest ``cap`` per library
    (K6 + A9/W2: maxStoredMatches retention)."""
    combined = existing.unionByName(new_matches).dropDuplicates([library_col, order_col])
    w = Window.partitionBy(library_col).orderBy(F.desc(order_col))
    return (
        combined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def requeue_orphans(
    matches: DataFrame, deleted_template_ids: list[str], pending: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split matches into (kept, new_pending): rows owned by deleted templates
    are re-queued (E2), unioned with the existing pending set (E4)."""
    kept = matches.filter(~F.col("template_id").isin(deleted_template_ids))
    orphans = matches.filter(F.col("template_id").isin(deleted_template_ids)).drop(
        "template_id", "variables"
    )
    if pending is not None:
        orphans = pending.unionByName(orphans, allowMissingColumns=True)
    return kept, orphans


def exclude_seen(candidates: DataFrame, seen: DataFrame, on: str = "content") -> DataFrame:
    """Left-anti seen-sample exclusion (E3)."""
    return candidates.join(seen.select(on).distinct(), on=on, how="left_anti")


def detect_conflicts(
    samples: DataFrame,
    candidate_template_id: str,
    candidate_pattern: str,
    content_col: str = "content",
) -> DataFrame:
    """Stored samples of OTHER templates that the candidate pattern matches,
    grouped by their owning template (J3). Returns
    (template_id, n_conflicts, sample_contents array, capped)."""
    hits = samples.filter(F.col("template_id") != candidate_template_id).filter(
        F.col(content_col).rlike(to_jvm_pattern(candidate_pattern))
    )
    return (
        hits.groupBy("template_id")
        .agg(
            F.count("*").alias("n_conflicts"),
            F.slice(F.collect_list(content_col), 1, 5).alias("sample_contents"),
        )
        .withColumn("candidate_template_id", F.lit(candidate_template_id))
    )


def capped_samples(
    matches: DataFrame, cap: int = 20, content_col: str = "content", order_col: str = "doc_id"
) -> DataFrame:
    """First-N stored samples per template (the bounded conflict-check side)."""
    w = Window.partitionBy("template_id").orderBy(order_col)
    return (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .select("template_id", content_col)
    )


def integrate_template(
    spark,
    library: list[dict],
    matches: DataFrame,
    pending: DataFrame,
    candidate: dict,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_iterations: int = 5,
    samples_per_template: int = 20,
    sample_scope_col: str | None = None,
) -> dict:
    """The reference's discovery state machine for ONE candidate template:
    conflict check → delete conflicting templates → re-queue their orphans →
    re-check, ≤``max_iterations`` rounds; on acceptance re-match pending
    against just the new template (pipeline.ts:355-451, 463-525, 561-612).

    ``library``: template dicts (template_id, source, pattern, created_at).
    ``matches``: fact rows already owned by templates (… template_id).
    ``pending``: rows not yet owned (same columns minus template_id/variables).
    The candidate itself is never rewritten (the reference's LLM RefineAgent
    has no deterministic stand-in here): re-checks converge through conflict
    deletion, since deleted templates release their samples.
    ``sample_scope_col``: restrict conflict samples to rows whose value in
    this column equals the candidate's (the reference's per-library conflict
    scope — an apache candidate is never checked against hdfs samples).

    Returns {library, matches, pending, accepted, deleted_ids, iterations}.
    Discovery-time driver loop over bounded data — the scored fact stream
    never flows through here.
    """
    from log_parser_cli_spark.operators.matcher import match_templates

    deleted_all: list[str] = []
    for iteration in range(max_iterations):
        scoped = (
            matches.filter(F.col(sample_scope_col) == candidate[sample_scope_col])
            if sample_scope_col is not None
            else matches
        )
        samples = capped_samples(scoped, samples_per_template, content_col, id_col)
        conflicts = detect_conflicts(
            samples, candidate["template_id"], candidate["pattern"], content_col
        ).collect()
        if not conflicts:
            # finalize: persist candidate, re-match pending against it alone,
            # move matched rows into the match store (dedup on the row id, A11)
            library = library + [candidate]
            rematch = match_templates(
                spark, pending, [candidate], content_col=content_col
            )
            newly = rematch.filter(F.col("template_id").isNotNull())
            pending = rematch.filter(F.col("template_id").isNull()).drop(
                "template_id", "variables"
            )
            matches = matches.unionByName(
                newly, allowMissingColumns=True
            ).dropDuplicates([id_col])
            return {
                "library": library,
                "matches": matches,
                "pending": pending,
                "accepted": True,
                "deleted_ids": deleted_all,
                "iterations": iteration + 1,
            }
        deleted = sorted({r["template_id"] for r in conflicts})
        deleted_all.extend(deleted)
        matches, pending = requeue_orphans(matches, deleted, pending)
        library = [t for t in library if t["template_id"] not in deleted]
    # unresolved: candidate rejected, orphans stay pending (pipeline.ts:451-456)
    return {
        "library": library,
        "matches": matches,
        "pending": pending,
        "accepted": False,
        "deleted_ids": deleted_all,
        "iterations": max_iterations,
    }


def _pin(spark, df: DataFrame) -> DataFrame:
    """Re-materialize a tiny state DataFrame from its collected rows — keeps
    the threaded-state lineage flat across queue iterations (the state is
    signature-cardinality by contract; an ever-growing union/filter plan would
    make analysis cost quadratic in queue length)."""
    return spark.createDataFrame(df.collect(), df.schema)


def discover_with_refine(
    spark,
    library: list[dict],
    matches: DataFrame,
    pending: DataFrame,
    candidates: list[dict],
    **integrate_kwargs,
) -> dict:
    """Iterative discovery over a candidate queue (pipeline.ts:130-165): each
    candidate runs the full integrate/conflict/refine machine in order, with
    the evolving (library, matches, pending) state threaded through — accepted
    templates shrink the pending queue before the next candidate is tried
    (the reference's re-match-pending-after-persist, pipeline.ts:500-510).

    matches/pending are re-materialized after each candidate (``_pin``), so
    the plan stays flat over long queues of signature-sized state.

    Returns {library, matches, pending, reports} where ``reports`` carries one
    per-candidate record (accepted, deleted_ids, iterations).
    """
    reports: list[dict] = []
    for cand in candidates:
        r = integrate_template(spark, library, matches, pending, cand, **integrate_kwargs)
        library = r["library"]
        matches, pending = _pin(spark, r["matches"]), _pin(spark, r["pending"])
        reports.append(
            {
                "template_id": cand["template_id"],
                "accepted": r["accepted"],
                "deleted_ids": r["deleted_ids"],
                "iterations": r["iterations"],
            }
        )
    return {"library": library, "matches": matches, "pending": pending, "reports": reports}


#: CSV NULL sentinel shared by the K2 writer and the eval-harness reader:
#: rendered log text never contains NUL, so only this token round-trips as
#: NULL and an empty string survives the write→read cycle as "" (Spark's
#: default nullValue is the empty string, which would turn empty-text matches
#: into NULLs that silently fall out of the alignment join).
CSV_NULL = "\x00"


def write_match_report(matched: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV match report (K2): raw_log, template_id, template_placeholder."""
    cols = [c for c in ("raw_log", "template_id", "template_placeholder") if c in matched.columns]
    (
        matched.select(*cols)
        .write.mode(mode)
        .option("header", True)
        .option("nullValue", CSV_NULL)
        .csv(path)
    )


def write_conflict_report(conflicts: DataFrame, out_dir: str) -> str:
    """JSON conflict report (K3): {timestamp, totalConflicts, conflicts[]}."""
    rows = [r.asDict(recursive=True) for r in conflicts.collect()]
    payload = {
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "totalConflicts": int(sum(r["n_conflicts"] for r in rows)),
        "conflicts": rows,
    }
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "conflicts.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
    return path


def write_failure_report(failures: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Append-only failures sink (K4): one JSON object per line (jsonl)."""
    failures.write.mode(mode).json(path)
