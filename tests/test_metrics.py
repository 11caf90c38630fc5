"""GA/PA/purity metrics vs the reference's worked example
(benchmark/baseline/METRICS_FORMULAS.md:355-438)."""

import pytest

from log_parser_cli_spark.eval.metrics import METRIC_COLS, accuracy_metrics, cell_metrics


@pytest.fixture(scope="module")
def worked_example(spark):
    rows = [("A", "1"), ("A", "1"), ("A", "2"), ("B", "3"), ("B", "3")]
    return spark.createDataFrame(rows, "gt_id string, pred_id string")


def test_worked_example_values(worked_example):
    m = accuracy_metrics(worked_example)
    assert m["GA"] == pytest.approx(2 / 3, abs=1e-9)
    assert m["GA_precision"] == pytest.approx(1.0)
    assert m["GA_recall"] == pytest.approx(0.5)
    assert m["PA"] == pytest.approx(0.4)
    assert m["predPure"] == pytest.approx(1.0)
    assert m["GA_friendly"] == pytest.approx(1.0)
    assert m["pureCoverage"] == pytest.approx(1.0)


def test_perfect_prediction(spark):
    rows = [("A", "x"), ("A", "x"), ("B", "y"), ("B", "y"), ("C", "z")]
    m = accuracy_metrics(spark.createDataFrame(rows, "gt_id string, pred_id string"))
    assert m["GA"] == pytest.approx(1.0)
    assert m["PA"] == pytest.approx(1.0)
    assert m["gtPure"] == pytest.approx(1.0)


def test_labels_fixture_metrics(spark, fixture_dir):
    """The deterministic perturbation fixture: oversplit stays pure,
    merged clusters hurt predPure and PA."""
    import os

    labels = spark.read.parquet(os.path.join(fixture_dir, "labels.parquet"))
    m = accuracy_metrics(labels)
    assert 0 < m["GA"] < 1
    assert m["predPure"] < 1.0  # hdfs#merged is impure
    assert m["GA_friendly"] > m["GA"]  # pure oversplits get collapsed back


def test_keyed_groups_score_like_separate_tables(spark):
    """One keyed ``cell_metrics`` call scores each group exactly as scoring
    that group's labels alone."""
    groups = {
        "worked": [("A", "1"), ("A", "1"), ("A", "2"), ("B", "3"), ("B", "3")],
        "mixed": [("A", "x"), ("B", "x"), ("B", "y"), ("C", "z"), ("C", "z")],
    }
    cells = (
        spark.createDataFrame(
            [(k, pred, gt) for k, rows in groups.items() for gt, pred in rows],
            "k string, pred string, gt string",
        )
        .groupBy("k", "pred", "gt")
        .count()
        .withColumnRenamed("count", "cnt")
    )
    keyed = {r["k"]: {c: r[c] for c in METRIC_COLS} for r in cell_metrics(cells, ("k",))}
    for k, rows in groups.items():
        labels = spark.createDataFrame(rows, "gt_id string, pred_id string")
        assert keyed[k] == accuracy_metrics(labels), k
