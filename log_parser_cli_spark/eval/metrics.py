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
(pred, gt, count) alone, so the labels relation is scanned exactly ONCE into
cells, and ``cell_metrics`` derives every number with one window and two
grouped aggregations over them — one action, whose result is one tiny row per
key group. Cells never reach the driver, so a degenerate labeling
(cells ≈ rows) stays bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

METRIC_COLS = [
    "GA", "GA_precision", "GA_recall", "PA", "predPure", "gtPure",
    "GA_friendly", "PA_friendly", "pureCoverage",
]


def _comb2(c: str) -> Column:
    """C(n, 2) pairs; long product, halved exactly as a double."""
    return F.col(c) * (F.col(c) - 1) / 2


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def _f1(p: Column, r: Column) -> Column:
    return F.when(p + r == 0, F.lit(0.0)).otherwise(2 * p * r / (p + r))


def cell_metrics(cells: DataFrame, keys: tuple[str, ...] = ()) -> list[Row]:
    """Every metric per key group from (keys…, pred, gt, cnt) cells.

    Returns one row per group: the ``keys``, the nine ``METRIC_COLS``
    (unrounded) and ``total`` (the group's labeled rows). With no keys the
    whole table is one group, and an empty table scores 0.

    One action (the collect of the result) over one window and two grouped
    aggregations, no joins, so ``cells`` is read once and needs no cache: a
    window over each pred cluster tags its cells with the cluster's size,
    purity and top cell (the cell holding the cluster's min gt carries the
    cluster-level terms once); a grouping per gt sums them next to the gt's
    own size, and merges the gt's pure pred clusters into the friendly
    pseudo-cluster ``__PURE__#<gt>`` (impure clusters are the same in both
    pairs; pred ids are assumed not to be named ``__PURE__#<gt>``). Every sum
    is an integer-valued double below 2^53, hence exact in any order.
    """
    by_pred = Window.partitionBy(*keys, "pred")
    tagged = cells.select(
        *keys,
        "gt",
        "cnt",
        F.sum("cnt").over(by_pred).alias("size"),
        (F.count("*").over(by_pred) == 1).alias("pure"),
        F.max("cnt").over(by_pred).alias("top"),
        F.col("gt").eqNullSafe(F.min("gt").over(by_pred)).alias("first"),
    )
    pure, first = F.col("pure"), F.col("first")
    per_gt = tagged.groupBy(*keys, "gt").agg(
        F.sum("cnt").alias("gt_size"),
        F.max("cnt").alias("gt_top"),
        F.count("*").alias("n_cells"),
        F.sum(F.when(pure, F.col("cnt")).otherwise(0)).alias("merged"),
        F.sum(_comb2("cnt")).alias("ap"),
        # a pure cluster is its one cell: its pairs leave the friendly pair
        # when it merges into __PURE__#<gt>
        F.sum(F.when(pure, _comb2("cnt")).otherwise(0)).alias("pure_ap"),
        F.sum(F.when(first, _comb2("size")).otherwise(0)).alias("pp"),
        F.sum(F.when(first, F.col("top")).otherwise(0)).alias("ptop"),
    )
    gt_size, merged = F.col("gt_size"), F.col("merged")
    sums = (
        per_gt.groupBy(*keys)
        .agg(
            F.sum(gt_size).alias("total"),
            F.sum("ap").alias("ap"),
            F.sum("pp").alias("pp"),
            F.sum(_comb2("gt_size")).alias("rp"),
            F.sum("pure_ap").alias("pure_ap"),
            F.sum(_comb2("merged")).alias("merged_ap"),
            # a pred cluster equals a gt cluster iff the gt has one cell and
            # that cell's pred is pure
            F.sum(F.when((F.col("n_cells") == 1) & (merged == gt_size), gt_size)).alias("ae"),
            F.sum(F.when(merged == gt_size, merged)).alias("fae"),
            F.sum("ptop").alias("ptop"),
            F.sum("gt_top").alias("gtop"),
            F.sum(merged).alias("pure_rows"),
        )
        .fillna(0)
    )
    ap, pp, rp, total = F.col("ap"), F.col("pp"), F.col("rp"), F.col("total")
    fap = ap - F.col("pure_ap") + F.col("merged_ap")
    fpp = pp - F.col("pure_ap") + F.col("merged_ap")
    p, r = _ratio(ap, pp), _ratio(ap, rp)
    fp, fr = _ratio(fap, fpp), _ratio(fap, rp)
    return sums.select(
        *keys,
        _f1(p, r).alias("GA"),
        p.alias("GA_precision"),
        r.alias("GA_recall"),
        _ratio(F.col("ae"), total).alias("PA"),
        _ratio(F.col("ptop"), total).alias("predPure"),
        _ratio(F.col("gtop"), total).alias("gtPure"),
        _f1(fp, fr).alias("GA_friendly"),
        _ratio(F.col("fae"), total).alias("PA_friendly"),
        _ratio(F.col("pure_rows"), total).alias("pureCoverage"),
        total,
    ).collect()


def accuracy_metrics(labels: DataFrame) -> dict[str, float]:
    """All metrics over a labels DataFrame with (pred_id, gt_id): ONE scan
    of ``labels`` (the contingency groupBy, map-side combinable) into cells
    that ``cell_metrics`` scores as one group."""
    cells = labels.groupBy(F.col("pred_id").alias("pred"), F.col("gt_id").alias("gt")).agg(
        F.count("*").alias("cnt")
    )
    (row,) = cell_metrics(cells)
    return {k: row[k] for k in METRIC_COLS}
