"""Template-library maintenance ops: upsert, orphan re-queue, conflict
detection, the refine machine, report sinks.

The set operations are the reference's SQLite-backed library mutations
re-expressed as DataFrame operations over small dimension tables (template
cardinality is tiny; the fact stream never flows through here):

- ``merge_templates``  — K5: INSERT .. ON CONFLICT(id) DO UPDATE
  (sqlite-template-manager.ts:90-110) as anti-join + union (MERGE INTO on an
  Iceberg/Delta deployment).
- ``requeue_orphans`` — E2: rows owned by deleted templates leave the matched
  set and re-enter the pending queue (pipeline.ts:561-612).
- ``exclude_seen`` — E3: left-anti seen-sample exclusion (manager.ts:112).
- ``detect_conflicts`` — J3: a candidate template pattern run over the stored
  samples of OTHER templates; full-line hits grouped by owning template
  (conflict-detector.ts:30-64). The candidate is a one-row library for
  ``match_templates``, no crossJoin blowup.
- ``discover_with_refine`` — the candidate queue's conflict → delete →
  re-queue machine (pipeline.ts:130-165, 355-451, 561-612), run on the driver
  over signature representatives through the matcher's kernel.
- ``write_match_report`` / ``write_failure_report`` — K2/K4 sinks
  (report-writer.ts:19-50, report-writers.ts:16-56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_parser_cli_spark.operators.matcher import match_batch, match_templates

SAMPLES_PER_TEMPLATE = 20  # stored samples a candidate is checked against
MAX_ITERATIONS = 5  # conflict → delete → re-check rounds per candidate


def merge_templates(existing: DataFrame, updates: DataFrame, key: str = "template_id") -> DataFrame:
    """Upsert semantics: rows in ``updates`` replace same-key rows in
    ``existing``; everything else unions through (K5)."""
    kept = existing.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates)


def requeue_orphans(matches: DataFrame, deleted_template_ids: list[str]) -> tuple[DataFrame, DataFrame]:
    """Split matches into (kept, orphans): rows owned by deleted templates
    leave the matched set for the pending queue (E2)."""
    kept = matches.filter(~F.col("template_id").isin(deleted_template_ids))
    orphans = matches.filter(F.col("template_id").isin(deleted_template_ids)).drop(
        "template_id", "variables"
    )
    return kept, orphans


def exclude_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Left-anti seen-sample exclusion on ``content`` (E3)."""
    return candidates.join(seen.select("content").distinct(), on="content", how="left_anti")


def detect_conflicts(
    samples: DataFrame, candidate_template_id: str, candidate_pattern: str
) -> DataFrame:
    """Stored samples of OTHER templates whose whole line the candidate
    pattern matches, grouped by their owning template (J3): a conflict means
    the candidate would claim that line, the matcher's full-line semantics.
    Returns (template_id, n_conflicts, sample_contents array,
    candidate_template_id)."""
    others = samples.filter(F.col("template_id") != candidate_template_id).select(
        F.col("template_id").alias("owner"), "content", F.lit("").alias("source")
    )
    library = [dict(template_id=candidate_template_id, source="", pattern=candidate_pattern, created_at=0)]
    hits = match_templates(samples.sparkSession, others, library)
    return (
        hits.filter(F.col("template_id").isNotNull())
        .groupBy(F.col("owner").alias("template_id"))
        .agg(
            F.count("*").alias("n_conflicts"),
            F.slice(F.collect_list("content"), 1, 5).alias("sample_contents"),
        )
        .withColumn("candidate_template_id", F.lit(candidate_template_id))
    )


def _match(library: list[dict], rows: list[tuple]) -> list[str | None]:
    """Owner of each ``(doc_id, source, content)`` row under ``library``."""
    tids, _ = match_batch([r[2] for r in rows], [r[1] for r in rows], library)
    return list(tids)


def discover_with_refine(library: list[dict], rows: list[tuple], candidates: list[dict]) -> dict:
    """The reference's discovery state machine over a candidate queue
    (pipeline.ts:130-165, 355-451, 463-525, 561-612), on the driver.

    ``library``: template dicts (template_id, source, pattern, created_at).
    ``rows``: ``(doc_id, source, content)`` representatives. The state is a
    ``doc_id → template_id | None`` owner map seeded by matching ``rows``
    against ``library``. Each candidate gets ≤``MAX_ITERATIONS`` rounds: its
    conflicts are the owners of the stored samples (the first
    ``SAMPLES_PER_TEMPLATE`` rows by doc_id of every other template in its
    source) whose whole line it matches. No conflict → it joins the library
    and claims the pending rows it matches (pipeline.ts:500-510); otherwise
    the conflicting templates are deleted and their rows return to pending.
    Still conflicting after its rounds → rejected (pipeline.ts:451-456). The
    candidate is never rewritten (the reference's LLM RefineAgent has no
    deterministic stand-in): re-checks converge through conflict deletion.

    Returns {library, owner, reports}, one report per candidate (template_id,
    accepted, deleted_ids, iterations).
    """
    rows = sorted(rows)
    owner = dict(zip((r[0] for r in rows), _match(library, rows)))
    reports: list[dict] = []
    for cand in candidates:
        report = {
            "template_id": cand["template_id"],
            "accepted": False,
            "deleted_ids": [],
            "iterations": MAX_ITERATIONS,
        }
        for iteration in range(MAX_ITERATIONS):
            by_owner: dict[str, list[tuple]] = {}
            for r in rows:
                if r[1] == cand["source"] and owner[r[0]] not in (None, cand["template_id"]):
                    by_owner.setdefault(owner[r[0]], []).append(r)
            samples = [r for rs in by_owner.values() for r in rs[:SAMPLES_PER_TEMPLATE]]
            hits = _match([cand], samples)
            conflicts = sorted({owner[r[0]] for r, hit in zip(samples, hits) if hit is not None})
            if not conflicts:
                library = library + [cand]
                pending = [r for r in rows if owner[r[0]] is None]
                owner.update((r[0], hit) for r, hit in zip(pending, _match([cand], pending)))
                report.update(accepted=True, iterations=iteration + 1)
                break
            report["deleted_ids"].extend(conflicts)
            owner = {d: None if t in conflicts else t for d, t in owner.items()}
            library = [t for t in library if t["template_id"] not in conflicts]
        reports.append(report)
    return {"library": library, "owner": owner, "reports": reports}


#: CSV NULL sentinel shared by the K2 writer and the eval-harness reader:
#: rendered log text never contains NUL, so only this token round-trips as
#: NULL and an empty string survives the write→read cycle as "" (Spark's
#: default nullValue is the empty string, which would turn empty-text matches
#: into NULLs that silently fall out of the alignment join).
CSV_NULL = "\x00"


def write_match_report(matched: DataFrame, path: str) -> None:
    """CSV match report (K2): raw_log, template_id, template_placeholder."""
    cols = [c for c in ("raw_log", "template_id", "template_placeholder") if c in matched.columns]
    (
        matched.select(*cols)
        .write.mode("overwrite")
        .option("header", True)
        .option("nullValue", CSV_NULL)
        .csv(path)
    )


def write_failure_report(failures: DataFrame, path: str) -> None:
    """Failures sink (K4): one JSON object per line (jsonl)."""
    failures.write.mode("overwrite").json(path)
