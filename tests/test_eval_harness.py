"""End-to-end eval harness: report files → alignment → per-dataset metrics."""

import os

from log_parser_cli_spark.eval.harness import eval_from_reports, write_eval_reports


def test_worked_example_reproduced_from_files(spark, tmp_path):
    """The METRICS_FORMULAS.md worked example (GA=0.667, PA=0.4,
    GA_friendly=1.0) must come out of the FILE round-trip, not in-memory
    labels — including a failed line that only affects coverage."""
    rows = [
        (1, "ds", "line one alpha", "1"),
        (2, "ds", "line two alpha", "1"),
        (3, "ds", "line three alpha", "2"),
        (4, "ds", "line four beta", "3"),
        (5, "ds", "line five beta", "3"),
        (6, "ds", "@@@ garbled @@@", "__UNPARSED__"),
    ]
    labeled = spark.createDataFrame(
        rows, "line_no long, source string, rendered string, pred_id string"
    )
    gt_rows = [
        (1, "ds", "line one alpha", "A"),
        (2, "ds", "line two alpha", "A"),
        (3, "ds", "line three alpha", "A"),
        (4, "ds", "line four beta", "B"),
        (5, "ds", "line five beta", "B"),
        (6, "ds", "@@@ garbled @@@", "__UNPARSED__"),
    ]
    gt = spark.createDataFrame(
        gt_rows, "line_no long, source string, rendered string, event_id string"
    )
    out = str(tmp_path / "reports")
    write_eval_reports(spark, labeled, out)
    assert os.path.exists(os.path.join(out, "matches_csv", "_SUCCESS"))

    got = {r.dataset: r for r in eval_from_reports(spark, out, gt).collect()}
    ds = got["ds"]
    assert abs(ds.ga - 0.666667) < 1e-6
    assert abs(ds.pa - 0.4) < 1e-9
    assert ds.ga_friendly == 1.0
    assert ds.predpure == 1.0
    assert abs(ds.coverage - 5 / 6) < 1e-6
    # macro over a single dataset equals that dataset
    assert got["__MACRO__"].ga == ds.ga


def test_duplicate_lines_align_fifo(spark, tmp_path):
    """Identical raw lines consume distinct gt occurrences (J5/W1): three
    duplicate lines produce three aligned label rows, not nine. A dataset
    whose every line failed still gets a row: 0 metrics, coverage 0."""
    labeled = spark.createDataFrame(
        [(i, "ds", "same exact line", "p1") for i in range(1, 4)]
        + [(4, "dead", "@@@ failed @@@", "__UNPARSED__")],
        "line_no long, source string, rendered string, pred_id string",
    )
    gt = spark.createDataFrame(
        [(i, "ds", "same exact line", "G") for i in range(1, 4)]
        + [(4, "dead", "@@@ failed @@@", "X")],
        "line_no long, source string, rendered string, event_id string",
    )
    out = str(tmp_path / "reports")
    write_eval_reports(spark, labeled, out)
    got = {r.dataset: r for r in eval_from_reports(spark, out, gt).collect()}
    assert got["ds"].ga == 1.0 and got["ds"].pa == 1.0
    assert got["ds"].coverage == 1.0
    assert set(got["dead"].asDict().values()) == {"dead", 0.0}


def test_fixture_labels_round_trip(spark, fixture_dir, tmp_path):
    """The perturbation fixture through the file harness: oversplit apache
    stays pure, the hdfs merge hurts predPure, every source has noise."""
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet")).select(
        "line_no", "source", "rendered", "event_id"
    )
    labels = spark.read.parquet(os.path.join(fixture_dir, "labels.parquet"))
    labeled = labels.join(gt, "line_no").select("line_no", "source", "rendered", "pred_id")
    out = str(tmp_path / "reports")
    write_eval_reports(spark, labeled, out)
    got = {r.dataset: r for r in eval_from_reports(spark, out, gt).collect()}
    assert set(got) == {
        "apache", "hdfs", "android", "openssh", "proxifier", "healthapp", "__MACRO__"
    }
    assert got["apache"].predpure == 1.0  # parity oversplit is pure
    assert got["apache"].ga_friendly > got["apache"].ga
    assert got["hdfs"].predpure < 1.0  # merged clusters are impure
    for ds, r in got.items():
        assert 0 < r.coverage < 1.0 or ds == "__MACRO__"


def test_degenerate_labeling_uses_bounded_distributed_path(spark, tmp_path):
    """pred=line_no (cells ≈ rows, the shape a driver-side reduction cannot
    bound) scores through the one distributed path to the hand-computed
    values: 40 singleton preds over 4 gt groups of 10, plus one failed line."""
    rows = [(i, "ds", f"unique line {i}", str(i)) for i in range(1, 41)]
    rows.append((41, "ds", "@@@ failed @@@", "__UNPARSED__"))
    labeled = spark.createDataFrame(
        rows, "line_no long, source string, rendered string, pred_id string"
    )
    gt = spark.createDataFrame(
        [(i, "ds", f"unique line {i}", f"G{i % 4}") for i in range(1, 41)]
        + [(41, "ds", "@@@ failed @@@", "X")],
        "line_no long, source string, rendered string, event_id string",
    )
    out = str(tmp_path / "reports")
    write_eval_reports(spark, labeled, out)
    got = {r.dataset: r for r in eval_from_reports(spark, out, gt).collect()}
    assert set(got) == {"ds", "__MACRO__"}
    # singletons: no predicted pairs (GA 0), no pred cluster equals a gt one
    # (PA 0), every gt cluster's top cell is 1 row (gtPure 4/40); collapsing
    # the pure singletons rebuilds the 4 gt clusters exactly (friendly 1)
    want = dict(
        ga=0.0, pa=0.0, predpure=1.0, gtpure=0.1, ga_friendly=1.0, pa_friendly=1.0,
        purecoverage=1.0, coverage=0.97561,  # 40/41 to 6 dp
    )
    for ds in got:
        assert {k: got[ds][k] for k in want} == want, ds


def test_empty_rendered_line_survives_csv_round_trip(spark, tmp_path):
    """An empty rendered string must round-trip through the matches CSV and
    stay in the alignment join + coverage numerator (ADVICE: default CSV read
    deserializes '' as NULL)."""
    labeled = spark.createDataFrame(
        [(1, "ds", "", "p1"), (2, "ds", "normal line", "p1")],
        "line_no long, source string, rendered string, pred_id string",
    )
    gt = spark.createDataFrame(
        [(1, "ds", "", "G"), (2, "ds", "normal line", "G")],
        "line_no long, source string, rendered string, event_id string",
    )
    out = str(tmp_path / "reports")
    write_eval_reports(spark, labeled, out)
    got = {r.dataset: r for r in eval_from_reports(spark, out, gt).collect()}
    # both rows aligned → perfect metrics AND full coverage (2/2, not 1/2)
    assert got["ds"].ga == 1.0
    assert got["ds"].coverage == 1.0
