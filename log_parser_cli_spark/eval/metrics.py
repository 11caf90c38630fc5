"""Clustering-accuracy metrics (GA / PA / purity / friendly) — one labels scan.

Re-expresses the reference's eval harness (benchmark/run-eval.js:120-259,
formulas in benchmark/baseline/METRICS_FORMULAS.md) over the (pred, gt)
contingency table:

- GA  (grouping accuracy): pairwise precision/recall/F1 over C(n,2) pairs,
- PA  (perfect-cluster accuracy): rows in pred clusters that exactly equal a
  gt cluster,
- predPure / gtPure: weighted dominant-label ratio per cluster,
- GA_friendly / PA_friendly: recomputed after collapsing pure (single-gt)
  pred clusters into one pseudo-cluster per gt id (__PURE__#<gt>),
- pureCoverage: fraction of rows living in pure pred clusters.

Validated against the worked example in METRICS_FORMULAS.md:355-438
(GA=0.667, PA=0.4, GA_friendly=1.0, predPure=1.0, pureCoverage=1.0).

Scale shape: every metric is a function of the contingency CELLS
(pred, gt, count) alone, so the full labels relation is scanned exactly ONCE —
one map-side-combinable groupBy whose output cardinality is ~clusters², not
rows. The cells are collected (bounded by ``max_cells``) and every
base/friendly/purity number is pure arithmetic on that tiny table; with
oversized cell sets the same arithmetic runs distributed on the cached cells,
still without re-reading labels. This runs on 10^12 labels with one shuffle.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Collect threshold: contingency cells up to this count are reduced on the
#: driver (a few MB); beyond it the arithmetic stays distributed.
MAX_DRIVER_CELLS = 2_000_000


def _comb2(n: float) -> float:
    return n * (n - 1) / 2 if n >= 2 else 0.0


def _ga_pa_from_cells(cells: list[tuple[str, str, int]]) -> dict[str, float]:
    """GA precision/recall/F1 + PA from (pred, gt, cnt) cells (A4/A5)."""
    gt_sizes: dict[str, int] = defaultdict(int)
    pred_sizes: dict[str, int] = defaultdict(int)
    pred_gts: dict[str, list[tuple[str, int]]] = defaultdict(list)
    accurate_pairs = 0.0
    for pred, gt, cnt in cells:
        gt_sizes[gt] += cnt
        pred_sizes[pred] += cnt
        pred_gts[pred].append((gt, cnt))
        accurate_pairs += _comb2(cnt)
    real_pairs = sum(_comb2(n) for n in gt_sizes.values())
    parsed_pairs = sum(_comb2(n) for n in pred_sizes.values())
    total = sum(gt_sizes.values())
    # PA: pred cluster is pure AND its size equals the gt cluster's total size.
    accurate_events = sum(
        size
        for pred, size in pred_sizes.items()
        if len(pred_gts[pred]) == 1 and gt_sizes[pred_gts[pred][0][0]] == size
    )
    precision = 0.0 if parsed_pairs == 0 else accurate_pairs / parsed_pairs
    recall = 0.0 if real_pairs == 0 else accurate_pairs / real_pairs
    f1 = 0.0 if (precision + recall) == 0 else 2 * precision * recall / (precision + recall)
    pa = 0.0 if total == 0 else accurate_events / total
    return {"precision": precision, "recall": recall, "ga": f1, "pa": pa, "total": total}


def _purity_from_cells(cells: list[tuple[str, str, int]]) -> tuple[float, float]:
    """(predPure, gtPure): weighted dominant-label ratio per cluster (A6)."""
    pred_top: dict[str, int] = defaultdict(int)
    pred_tot: dict[str, int] = defaultdict(int)
    gt_top: dict[str, int] = defaultdict(int)
    gt_tot: dict[str, int] = defaultdict(int)
    for pred, gt, cnt in cells:
        pred_top[pred] = max(pred_top[pred], cnt)
        pred_tot[pred] += cnt
        gt_top[gt] = max(gt_top[gt], cnt)
        gt_tot[gt] += cnt
    tot = sum(pred_tot.values())
    if tot == 0:
        return 0.0, 0.0
    return sum(pred_top.values()) / tot, sum(gt_top.values()) / tot


def _collapse_cells(cells: list[tuple[str, str, int]]) -> list[tuple[str, str, int]]:
    """Relabel single-gt pred clusters to __PURE__#<gt> (A7,
    run-eval.js:209-234) and re-aggregate — pure arithmetic on the cells."""
    pred_gt_count: dict[str, int] = defaultdict(int)
    for pred, _gt, _cnt in cells:
        pred_gt_count[pred] += 1
    merged: dict[tuple[str, str], int] = defaultdict(int)
    for pred, gt, cnt in cells:
        key = f"__PURE__#{gt}" if pred_gt_count[pred] == 1 else pred
        merged[(key, gt)] += cnt
    return [(p, g, c) for (p, g), c in merged.items()]


def metrics_from_cells(cells: list[tuple[str, str, int]]) -> dict[str, float]:
    """All metrics from one (pred, gt, cnt) contingency list."""
    base = _ga_pa_from_cells(cells)
    friendly = _ga_pa_from_cells(_collapse_cells(cells))
    pred_pure, gt_pure = _purity_from_cells(cells)
    pred_gt_count: dict[str, int] = defaultdict(int)
    pred_sizes: dict[str, int] = defaultdict(int)
    for pred, _gt, cnt in cells:
        pred_gt_count[pred] += 1
        pred_sizes[pred] += cnt
    pure_rows = sum(size for pred, size in pred_sizes.items() if pred_gt_count[pred] == 1)
    total = base["total"]
    return {
        "GA": base["ga"],
        "GA_precision": base["precision"],
        "GA_recall": base["recall"],
        "PA": base["pa"],
        "predPure": pred_pure,
        "gtPure": gt_pure,
        "GA_friendly": friendly["ga"],
        "PA_friendly": friendly["pa"],
        "pureCoverage": 0.0 if total == 0 else pure_rows / total,
    }


def macro_metrics(per_dataset: dict[str, dict[str, float]]) -> dict[str, float]:
    """Macro averages across datasets (A8, run-eval.js:327-375): unweighted
    mean of every metric key present in all datasets."""
    if not per_dataset:
        return {}
    keys = set.intersection(*(set(m) for m in per_dataset.values()))
    n = len(per_dataset)
    return {k: sum(m[k] for m in per_dataset.values()) / n for k in sorted(keys)}


def _distributed_metrics(cells_df: DataFrame) -> dict[str, float]:
    """Fallback for oversized contingency sets: the same arithmetic over the
    CACHED cells DataFrame (labels are still scanned only once). Two actions
    per labeling (base + friendly), each one agg over cluster-keyed rows."""

    def ga_pa(cdf: DataFrame) -> dict[str, float]:
        pred_stats = cdf.groupBy("pred").agg(
            F.sum("cnt").alias("pred_size"),
            F.count("*").alias("n_gt"),
            F.first("gt").alias("any_gt"),
        )
        gt_sizes = cdf.groupBy("gt").agg(F.sum("cnt").alias("gt_size"))
        comb2 = lambda c: F.when(c >= 2, c * (c - 1) / 2).otherwise(F.lit(0.0))  # noqa: E731
        joined = pred_stats.join(gt_sizes, pred_stats["any_gt"] == gt_sizes["gt"], "left")
        row = (
            joined.crossJoin(
                cdf.agg(
                    F.sum(comb2(F.col("cnt"))).alias("ap"), F.sum("cnt").alias("total")
                )
            )
            .agg(
                F.sum(comb2(F.col("pred_size"))).alias("pp"),
                F.sum(
                    F.when(
                        (F.col("n_gt") == 1) & (F.col("pred_size") == F.col("gt_size")),
                        F.col("pred_size"),
                    ).otherwise(0)
                ).alias("ae"),
                F.first("ap").alias("ap"),
                F.first("total").alias("total"),
            )
            .crossJoin(gt_sizes.agg(F.sum(comb2(F.col("gt_size"))).alias("rp")))
            .first()
        )
        ap, pp, rp = row["ap"] or 0.0, row["pp"] or 0.0, row["rp"] or 0.0
        total, ae = row["total"] or 0, row["ae"] or 0
        precision = 0.0 if pp == 0 else ap / pp
        recall = 0.0 if rp == 0 else ap / rp
        f1 = 0.0 if (precision + recall) == 0 else 2 * precision * recall / (precision + recall)
        return {
            "precision": precision,
            "recall": recall,
            "ga": f1,
            "pa": 0.0 if total == 0 else ae / total,
            "total": total,
        }

    pure_map = cells_df.groupBy("pred").agg(
        F.count("*").alias("n_gt"), F.first("gt").alias("any_gt")
    )
    friendly_cells = (
        cells_df.join(F.broadcast(pure_map), "pred")
        .withColumn(
            "pred2",
            F.when(F.col("n_gt") == 1, F.concat(F.lit("__PURE__#"), F.col("gt"))).otherwise(
                F.col("pred")
            ),
        )
        .groupBy(F.col("pred2").alias("pred"), "gt")
        .agg(F.sum("cnt").alias("cnt"))
    )
    base = ga_pa(cells_df)
    friendly = ga_pa(friendly_cells)
    purity_row = (
        cells_df.groupBy("pred")
        .agg(F.max("cnt").alias("top"), F.sum("cnt").alias("tot"), F.count("*").alias("n_gt"))
        .agg(
            F.sum("top").alias("ptop"),
            F.sum("tot").alias("ptot"),
            F.sum(F.when(F.col("n_gt") == 1, F.col("tot")).otherwise(0)).alias("pure_rows"),
        )
        .crossJoin(
            cells_df.groupBy("gt")
            .agg(F.max("cnt").alias("top"), F.sum("cnt").alias("tot"))
            .agg(F.sum("top").alias("gtop"), F.sum("tot").alias("gtot"))
        )
        .first()
    )
    total = base["total"]
    return {
        "GA": base["ga"],
        "GA_precision": base["precision"],
        "GA_recall": base["recall"],
        "PA": base["pa"],
        "predPure": 0.0 if not purity_row["ptot"] else purity_row["ptop"] / purity_row["ptot"],
        "gtPure": 0.0 if not purity_row["gtot"] else purity_row["gtop"] / purity_row["gtot"],
        "GA_friendly": friendly["ga"],
        "PA_friendly": friendly["pa"],
        "pureCoverage": 0.0 if total == 0 else (purity_row["pure_rows"] or 0) / total,
    }


def accuracy_metrics(
    labels: DataFrame,
    pred_col: str = "pred_id",
    gt_col: str = "gt_id",
    max_cells: int = MAX_DRIVER_CELLS,
) -> dict[str, float]:
    """All metrics over a labels DataFrame with (pred_col, gt_col).

    ONE scan of ``labels`` (the contingency groupBy, map-side combinable);
    every metric — base, friendly, purity, coverage — is then arithmetic on
    the cached cells.
    """
    cells_df = (
        labels.groupBy(F.col(pred_col).alias("pred"), F.col(gt_col).alias("gt"))
        .agg(F.count("*").alias("cnt"))
        .cache()
    )
    try:
        head = cells_df.limit(max_cells + 1).collect()
        if len(head) <= max_cells:
            return metrics_from_cells([(r["pred"], r["gt"], r["cnt"]) for r in head])
        return _distributed_metrics(cells_df)
    finally:
        cells_df.unpersist()
