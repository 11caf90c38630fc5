"""Dump formatted physical plans of the engine's key operators to PLANS.md
and assert their shape: broadcast joins where expected, predicate/column
pushdown into parquet scans, no cartesian products, whole-stage codegen spans.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def payload_exchanges(plan: str) -> tuple[str, list[str], str]:
    """(operator tree, its non-broadcast Exchange lines, the first
    hashpartitioning arguments line) of a formatted plan."""
    tree = plan.split("\n\n", 1)[0]
    exchanges = [ln for ln in tree.splitlines() if "Exchange" in ln and "BroadcastExchange" not in ln]
    keys = next((ln for ln in plan.splitlines() if ln.startswith("Arguments: hashpartitioning(")), "")
    return tree, exchanges, keys


def main() -> int:
    from log_parser_cli_spark.datagen import ensure_fixtures
    from log_parser_cli_spark.operators.parse import parse_stage
    from log_parser_cli_spark.plans.pipeline import (
        AGG_GRAIN,
        discover_templates,
        enrich_stage,
        load_dims,
        read_routed,
        read_sequences,
        route_frame,
        route_stage,
    )
    from log_parser_cli_spark.session import get_spark
    from log_parser_cli_spark.extras.dedup import simhash, simhash_pairs
    from log_parser_cli_spark.extras.similarity import cosine_topk

    spark = get_spark(app_name="explain", cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    fx = ensure_fixtures("sf0.01")
    vocab_rows, source_heads, sinks = load_dims(spark, fx)
    seq = read_sequences(spark, fx)

    sections: list[tuple[str, str, list[str], list[str]]] = []
    # (title, plan, must_contain, must_not_contain)

    parsed = parse_stage(spark, seq, vocab_rows, source_heads)
    mapping = discover_templates(spark, parsed)
    enriched = enrich_stage(parsed, mapping, sinks)
    route_title = "enrich + fan-out repartition (parse → mapping broadcast join → salted exchange)"
    route_plan = plan_of(route_frame(enriched, salt_buckets=4))
    sections.append(
        (
            route_title,
            route_plan,
            ["BroadcastHashJoin", "MapInArrow", "Exchange", "hashpartitioning"],
            ["CartesianProduct", "SortMergeJoin", "HashAggregate"],
        )
    )
    # per-template salt sizing rides the mapping's broadcast join: the route
    # keeps ONE payload exchange, keyed by (sink, template_id, salt), and
    # gains no aggregate; the sink is a literal map lookup, so the mapping is
    # the only broadcast
    tree, exchanges, keys = payload_exchanges(route_plan)
    route_checks = [
        (f"one payload exchange (found {len(exchanges)})", len(exchanges) == 1),
        (
            f"one broadcast, the mapping (found {tree.count('BroadcastExchange')})",
            tree.count("BroadcastExchange") == 1,
        ),
        (
            f"exchange keyed by sink, template_id and the share-sized salt: `{keys[11:]}`",
            all(k in keys for k in ("sink#", "template_id#", "hash(doc_id#", "salt_share#")),
        ),
    ]

    # the streaming frame stream_replay hands to writeStream: the same single
    # payload exchange at salt 1, against the mapping pinned as a local
    # relation (its broadcast scans no file and re-runs no lineage)
    from log_parser_cli_spark.streaming.stream import _parsed_stream, batch_frame, pin

    batch_title = "micro-batch route (file stream → local mapping → broadcast join → salt-1 exchange)"
    stream_parsed, _ = _parsed_stream(spark, fx, 1, None)
    batch_plan = plan_of(batch_frame(stream_parsed, pin(spark, mapping), sinks))
    sections.append(
        (
            batch_title,
            batch_plan,
            ["StreamingRelation", "BroadcastHashJoin", "MapInArrow"],
            ["CartesianProduct", "SortMergeJoin", "HashAggregate", "Scan ExistingRDD"],
        )
    )
    batch_tree, batch_exchanges, batch_keys = payload_exchanges(batch_plan)
    batch_checks = [
        (
            f"mapping broadcast from LocalTableScan (found {batch_tree.count('LocalTableScan')})",
            batch_tree.count("LocalTableScan") == 1,
        ),
        (f"one payload exchange (found {len(batch_exchanges)})", len(batch_exchanges) == 1),
        (
            f"exchange keyed by sink, template_id and a salt of 1: `{batch_keys[11:]}`",
            all(k in batch_keys for k in ("sink#", "template_id#", "* 1.0)), 1)")),
        ),
    ]
    extra_checks = {route_title: route_checks, batch_title: batch_checks}

    # column pruning + predicate pushdown on the routed-style scan
    pruned = seq.select("doc_id", "n_tok").filter(F.col("n_tok") > 20)
    sections.append(
        (
            "pruned + filtered scan (Catalyst pushdown into parquet)",
            plan_of(pruned),
            ["PushedFilters: [IsNotNull(n_tok), GreaterThan(n_tok,20)]", "ReadSchema: struct<doc_id:string,n_tok:int>"],
            [],
        )
    )

    # the aggregate stage's one grouping over a committed routed snapshot:
    # one parquet scan, map-side partial count → exchange → final count
    agg_title = "aggregate stage (one routed scan → partial → exchange → final)"
    with tempfile.TemporaryDirectory(prefix="explain-routed-") as routed_out:
        route_stage(enriched, routed_out, salt_buckets=4)
        agg_plan = plan_of(
            read_routed(spark, routed_out).groupBy(*AGG_GRAIN).agg(F.count("*").alias("cnt"))
        )
    sections.append((agg_title, agg_plan, ["hashpartitioning"], ["CartesianProduct"]))
    agg_tree = agg_plan.split("\n\n", 1)[0]
    extra_checks[agg_title] = [
        (
            f"one parquet scan (found {agg_tree.count('Scan parquet')})",
            agg_tree.count("Scan parquet") == 1,
        ),
        (
            "partial → final HashAggregate around one exchange",
            agg_tree.count("HashAggregate") == 2
            and agg_tree.count("Exchange") == 1
            and agg_plan.index("partial_count(1)") < agg_plan.index("[count(1)]"),
        ),
    ]

    # head-derive pool: broadcast step join + map-side hash filter; the only
    # sort (for the window rank) runs on the filtered residue, and the big
    # side never exchanges before the filter
    from pyspark.sql import Window

    gt = spark.read.parquet(os.path.join(fx, "ground_truth.parquet")).select(
        "source", "line_no", "rendered"
    )
    steps = spark.createDataFrame([("apache", 3), ("hdfs", 2)], "_g string, _step long")
    h32 = "CAST(conv(substr(md5(concat('pool|', CAST(line_no AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    pool = (
        gt.join(F.broadcast(steps), F.col("source") == F.col("_g"))
        .filter(F.expr(h32) % F.col("_step") == 0)
        .withColumn("_rn", F.row_number().over(Window.partitionBy("source").orderBy("line_no")))
        .filter(F.col("_rn") <= 2000)
    )
    sections.append(
        (
            "head-derive pool (broadcast steps → map-side hash filter → residue-only rank)",
            plan_of(pool),
            ["BroadcastHashJoin", "md5"],
            ["CartesianProduct", "SortMergeJoin"],
        )
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sh_pairs = simhash_pairs(simhash(docs))
    sections.append(
        (
            "simhash near-dup candidates (pigeonhole equi-join, no cross join)",
            plan_of(sh_pairs),
            ["HashJoin"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    sh_wide = simhash_pairs(simhash(docs), max_hamming=8, chunks=10, combo_size=2)
    sections.append(
        (
            "simhash WIDE radius 8 (C(10,2)=45 combination bands, still equi-joins only)",
            plan_of(sh_wide),
            ["HashJoin"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    # guarded path: window bucket-count on the SAME keys as the pair join,
    # normal pairs + star pairs unioned — still equi-joins only, no cartesian
    sh_capped = simhash_pairs(simhash(docs), max_bucket=64)
    sections.append(
        (
            "simhash with hot-bucket guard (window count → normal equi-join ∪ star, cap 64)",
            plan_of(sh_capped),
            ["Window", "HashJoin", "Union"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    topk = cosine_topk(emb, [0, 1, 2], k=5)
    sections.append(
        (
            "cosine top-k (broadcast query side + per-query window)",
            plan_of(topk),
            ["BroadcastNestedLoopJoin", "WindowExec|Window"],
            [],
        )
    )

    # embedding near-dup: LSH band candidates feed the exact verify — the
    # corpus is NEVER self-joined unkeyed (no cartesian / nested-loop join)
    from log_parser_cli_spark.extras.similarity import cosine_pairs, rhp_candidates

    cands = rhp_candidates(emb, dim=64, n_planes=60, rows_per_band=3)
    emb_dedup = cosine_pairs(emb, threshold=0.4, candidates=cands)
    sections.append(
        (
            "embedding near-dup (hyperplane-LSH candidates → cosine verify, keyed joins only)",
            plan_of(emb_dedup),
            ["HashJoin"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    # cross-family jaccard: simhash chunk candidates → shingle-join verify
    from log_parser_cli_spark.extras.dedup import jaccard_pairs, simhash_candidates

    jac = jaccard_pairs(docs, threshold=0.3, candidates=simhash_candidates(simhash(docs)))
    sections.append(
        (
            "candidate-fed jaccard (simhash bands → shingle equi-join → verify)",
            plan_of(jac),
            ["HashJoin"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    # IVF: centroid literals → whole-stage-codegen assignment, probe join
    from log_parser_cli_spark.extras.similarity import centroids_from_parquet, ivf_topk

    cents = centroids_from_parquet("/root/testdata/sf0.01/embeddings.parquet", k=16)
    ivf = ivf_topk(emb, [0, 1, 2, 3, 4], k=10, centroids=cents, nprobe=5)
    sections.append(
        (
            "IVF top-k (literal-centroid assignment, bucket-keyed probe join)",
            plan_of(ivf),
            ["BroadcastHashJoin", "WindowGroupLimit"],
            ["CartesianProduct", "BroadcastNestedLoopJoin"],
        )
    )

    failures: list[str] = []
    out = [
        "# PLANS — physical-plan evidence\n",
        "Generated by `python tools/explain_plans.py` (sf0.01). Each section",
        "lists shape assertions checked in CI fashion: broadcast joins on dim",
        "sides, parquet pushdown, partial aggregation, no cartesian products.\n",
    ]
    for title, plan, must, must_not in sections:
        checks = []
        for what, ok in extra_checks.get(title, []):
            checks.append(f"- {'✅' if ok else '❌'} {what}")
            if not ok:
                failures.append(f"{title}: {what}")
        for m in must:
            ok = any(alt in plan for alt in m.split("|"))
            checks.append(f"- {'✅' if ok else '❌'} contains `{m}`")
            if not ok:
                failures.append(f"{title}: missing {m}")
        for m in must_not:
            ok = m not in plan
            checks.append(f"- {'✅' if ok else '❌'} free of `{m}`")
            if not ok:
                failures.append(f"{title}: found forbidden {m}")
        out.append(f"\n## {title}\n")
        out.extend(checks)
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print(f"{len(failures)} plan-shape failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
