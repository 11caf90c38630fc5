"""spark-submit entrypoint: the full parse → enrich → route → aggregate job.

Ship the package and run:

    python -m zipfile -c /tmp/lpcs.zip log_parser_cli_spark
    spark-submit --py-files /tmp/lpcs.zip log_parser_cli_spark/jobs.py \
        --fixtures data/fixtures/sf0.01 --out /tmp/run1 [--resume] \
        [--cores 32] [--run-id run-1]

Run modes (the reference CLI's surfaces, semantic-log-parser.ts §3.1-3.3):
  (default)        full run: parse → discover → route → aggregate
  --match-only M   replay against a frozen mapping dir (no discovery)
  --derive-heads   derive head patterns from the token table (no head config)
  --eval-reports   after the run, score routed output vs ground truth and
                   write the per-dataset + __MACRO__ metrics table
  --overbroad      after the run, persist the top-50 overbroad-template report

On a cluster, drop --cores and let the deploy mode size executors; the job
code is identical (the session factory only pins local[N] when asked).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _maintenance(spark, args) -> int:
    """--vacuum / --read-snapshot: operate the out dir's snapshot tables."""
    import pyspark.sql.functions as F

    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    rc = 0
    if args.read_snapshot is not None:
        table = SnapshotTable(os.path.join(args.out, "routed"))
        try:
            df = table.read(spark, version=args.read_snapshot)
        except FileNotFoundError as e:
            print(f"read-snapshot failed: {e}")
            return 1
        n = df.count()
        print(f"routed@v{args.read_snapshot}: rows={n}")
        (
            df.groupBy("sink", "template_id")
            .agg(F.count("*").alias("n_sequences"))
            .orderBy(F.desc("n_sequences"))
            .show(12, truncate=60)
        )
    if args.vacuum is not None:
        for name in ("routed", "template_library"):
            root = os.path.join(args.out, name)
            if not SnapshotTable.is_snapshot_dir(root):
                continue
            table = SnapshotTable(root)
            removed = table.vacuum(keep_last=max(1, args.vacuum))
            print(
                f"{name}: vacuumed to last {max(1, args.vacuum)} snapshots "
                f"(current v{table.current_version()}), removed {len(removed)} data dirs"
            )
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="log_parser_cli_spark pipeline job")
    ap.add_argument("--fixtures", default=None,
                    help="fixture dir (sequences/vocab/sources parquet); required "
                         "except in maintenance mode (--vacuum/--read-snapshot)")
    ap.add_argument("--out", required=True, help="output dir for routed tables + aggregates")
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--resume", action="store_true", help="skip stages committed in the manifest")
    ap.add_argument("--cores", type=int, default=None, help="local[N] override (omit on a cluster)")
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--match-only", metavar="MAPPING_DIR", default=None,
                    help="replay against this frozen template-mapping parquet dir")
    ap.add_argument("--derive-heads", action="store_true",
                    help="derive head patterns from the data instead of config")
    ap.add_argument("--eval-reports", action="store_true",
                    help="score routed output vs ground truth; write metrics table")
    ap.add_argument("--overbroad", action="store_true",
                    help="persist the top-50 overbroad-template report")
    ap.add_argument("--export-library", action="store_true",
                    help="export the discovered clusters as a regex template library")
    ap.add_argument("--refine", action="store_true",
                    help="run discovery through the conflict→delete→requeue candidate queue")
    ap.add_argument("--retain-snapshots", type=int, default=2, metavar="N",
                    help="snapshot retention for the routed table's auto-vacuum (≥1)")
    ap.add_argument("--vacuum", type=int, default=None, metavar="KEEP",
                    help="maintenance mode: vacuum the out dir's snapshot tables to the "
                         "last KEEP versions (age-gated orphan collection) and exit")
    ap.add_argument("--read-snapshot", type=int, default=None, metavar="VERSION",
                    help="maintenance mode: time-travel read of the routed table at "
                         "VERSION; prints row count + top template counts and exits")
    args = ap.parse_args(argv)
    maintenance = args.vacuum is not None or args.read_snapshot is not None
    if not maintenance and args.fixtures is None:
        ap.error("--fixtures is required unless running --vacuum/--read-snapshot")
    if args.retain_snapshots < 1:
        ap.error("--retain-snapshots must be >= 1 (retention below 1 would vacuum the current snapshot)")

    from log_parser_cli_spark.plans.pipeline import read_mapping, read_routed, run_pipeline
    from log_parser_cli_spark.session import get_spark

    spark = get_spark(app_name=f"lpcs-{args.run_id}", cores=args.cores)
    if maintenance:
        # table maintenance operates on an existing out dir only — the
        # snapshot history is the table-level twin of the reference's
        # replay-from-chunks story (time travel) plus its GC
        rc = _maintenance(spark, args)
        spark.stop()
        return rc
    mapping_df = read_mapping(spark, args.match_only) if args.match_only else None
    t0 = time.time()
    result = run_pipeline(
        spark,
        args.fixtures,
        args.out,
        run_id=args.run_id,
        resume=args.resume,
        salt_buckets=args.salt_buckets,
        mapping_df=mapping_df,
        derive_heads=args.derive_heads,
        refine=args.refine,
        retain_snapshots=args.retain_snapshots,
    )
    wall = time.time() - t0
    if args.refine:
        report_path = os.path.join(args.out, "refine_reports.json")
        if os.path.exists(report_path):
            import json

            with open(report_path) as f:
                reports = json.load(f)
            deleted = sorted({d for r in reports for d in r["deleted_ids"]})
            print(
                f"refine: {sum(1 for r in reports if r['accepted'])}/{len(reports)} "
                f"candidates accepted, deleted={deleted}"
            )

    import pyspark.sql.functions as F

    counts = spark.read.parquet(f"{args.out}/sink_counts")
    n_rows = counts.agg(F.sum("n_sequences")).first()[0]
    n_templates = counts.filter(~F.col("template_id").startswith("__")).count()
    print(f"stages_run={result.stages_run} stages_skipped={result.stages_skipped}")
    print(f"rows={n_rows} templates={n_templates} wall_sec={wall:.2f} seq_per_sec={n_rows / wall:.0f}")
    counts.orderBy(F.desc("n_sequences")).show(12, truncate=60)

    if args.eval_reports:
        from log_parser_cli_spark.eval.harness import eval_from_reports, write_eval_reports

        gt_path = os.path.join(args.fixtures, "ground_truth.parquet")
        if os.path.exists(gt_path):
            gt = spark.read.parquet(gt_path).select("line_no", "source", "rendered", "event_id")
            routed = read_routed(spark, args.out)
            labeled = (
                routed.select("doc_id", F.col("template_id").alias("pred_id"))
                .withColumn(
                    "pred_id",
                    F.when(F.col("pred_id").startswith("__"), F.lit("__UNPARSED__")).otherwise(
                        F.col("pred_id")
                    ),
                )
                .join(
                    spark.read.parquet(gt_path).select("doc_id", "line_no", "source", "rendered"),
                    "doc_id",
                )
            )
            report_dir = os.path.join(args.out, "eval_reports")
            write_eval_reports(spark, labeled, report_dir)
            metrics = eval_from_reports(spark, report_dir, gt)
            metrics.write.mode("overwrite").json(os.path.join(args.out, "eval_metrics"))
            metrics.show(10, truncate=False)
        else:
            print("eval-reports skipped: no ground_truth.parquet in fixtures")

    if args.export_library:
        from log_parser_cli_spark.plans.export import export_template_library
        from log_parser_cli_spark.plans.pipeline import enrich_stage, load_dims, read_parsed

        # reuse the run's OWN checkpointed parse output — consistent with
        # whatever heads the run used (incl. --derive-heads) and no re-parse
        _vocab_rows, _source_heads, sinks = load_dims(spark, args.fixtures)
        parsed = read_parsed(spark, args.fixtures, f"{args.out}/parsed")
        mapping = read_mapping(spark, args.match_only or f"{args.out}/template_mapping")
        enriched = enrich_stage(parsed, mapping, sinks)
        library = export_template_library(spark, enriched)
        lib_path = os.path.join(args.out, "template_library")
        lib_df = spark.createDataFrame(
            [
                (t["template_id"], t["source"], t["placeholder_template"], t["pattern"],
                 t["template_star"], t["variables"], t["created_at"])
                for t in library
            ],
            "template_id string, source string, placeholder_template string, pattern string,"
            " template_star string, variables array<string>, created_at long",
        ).coalesce(1)
        # transactional library table (K5): repeated exports MERGE by
        # template_id under snapshot isolation — the reference's SQLite
        # ON CONFLICT(id) DO UPDATE (sqlite-template-manager.ts:90-110)
        from log_parser_cli_spark.plans.snapshots import SnapshotTable

        table = SnapshotTable(lib_path)
        version = table.merge(spark, lib_df, key="template_id")
        table.vacuum(keep_last=2)
        n_total = table.read(spark).count()
        print(f"template library: {lib_path} v{version} ({n_total} templates)")

    if args.overbroad:
        from log_parser_cli_spark.extras.overbroad import (
            routed_for_overbroad,
            write_overbroad_report,
        )

        # feed the stats from the already-materialized routed output —
        # (content, word_vars) reconstruct from (template_star, variables),
        # so the token table is never re-parsed for this report
        routed = read_routed(spark, args.out)
        path = write_overbroad_report(routed_for_overbroad(routed), args.out)
        print(f"overbroad report: {path}")

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
