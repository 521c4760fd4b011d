"""Metric goldens hand-computed in the style of the reference's
tests/ut/test_metrics.py:28-78 (crafted cases with known P/R/F, acc)."""

from __future__ import annotations

import math

from webx.metrics import _explode, _match_pairs, det_metrics, rec_metrics


def spans_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, spans array<struct<start:long,end:long>>"
    )


def test_det_metric_half_match(spark):
    """2 golden, 2 pred, 1 match -> P=R=F=0.5 (the reference's crafted
    3-box case shape, test_metrics.py:28-63)."""
    golden = spans_df(spark, [("u", [(0, 100), (200, 300)])])
    pred = spans_df(spark, [("u", [(0, 100), (400, 500)])])
    row = det_metrics(pred, golden).first()
    assert (row["n_golden"], row["n_pred"], row["tp"]) == (2, 2, 1)
    assert row["precision"] == row["recall"] == row["f1"] == 0.5


def test_iou_threshold_boundary(spark):
    golden = spans_df(spark, [("u", [(0, 100)])])
    # overlap 50/150 = 1/3 < 0.5 -> no match
    pred_low = spans_df(spark, [("u", [(50, 150)])])
    assert det_metrics(pred_low, golden).first()["tp"] == 0
    # overlap 80/120 = 2/3 >= 0.5 -> match
    pred_hi = spans_df(spark, [("u", [(20, 120)])])
    assert det_metrics(pred_hi, golden).first()["tp"] == 1


def test_one_to_one_matching(spark):
    """Two preds over one golden: only one TP (first-match discipline)."""
    golden = spans_df(spark, [("u", [(0, 100)])])
    pred = spans_df(spark, [("u", [(0, 90), (5, 100)])])
    row = det_metrics(pred, golden).first()
    assert row["tp"] == 1 and row["n_pred"] == 2
    assert math.isclose(row["precision"], 0.5)


def test_ignore_region_anti_join(spark):
    """Pred covered >50% by an ignored region is excluded from FP count
    (det_metrics.py:46-57)."""
    golden = spans_df(spark, [("u", [(0, 100)])])
    pred = spans_df(spark, [("u", [(0, 100), (200, 300)])])
    ignore = spark.createDataFrame(
        [("u", 190, 290)], "url string, start long, end long"
    )
    row = det_metrics(pred, golden, ignore=ignore).first()
    assert (row["n_pred"], row["tp"], row["precision"], row["recall"]) == (1, 1, 1.0, 1.0)


def test_span_matches_pairs(spark):
    golden = spans_df(spark, [("u", [(0, 10), (20, 30)]), ("v", [(0, 10)])])
    pred = spans_df(spark, [("u", [(0, 10), (20, 30)])])
    pairs = _match_pairs(_explode(pred, "p"), _explode(golden, "g"), 0.5)
    got = {(r["url"], r["p_idx"], r["g_idx"]) for r in pairs.collect()}
    assert got == {("u", 0, 0), ("u", 1, 1)}


def test_rec_metric_half_correct(spark):
    """acc=0.5 and hand-computed norm_edit (RecMetric golden shape,
    test_metrics.py:66-78)."""
    pred = spark.createDataFrame(
        [("a", "hello"), ("b", "worxd")], "url string, text string"
    )
    golden = spark.createDataFrame(
        [("a", "hello"), ("b", "world")], "url string, text string"
    )
    row = rec_metrics(pred, golden).first()
    assert (row["n_docs"], row["n_correct"], row["acc"]) == (2, 1, 0.5)
    # norm_edit = mean(1 - 0/5, 1 - 1/5) = 0.9
    assert math.isclose(row["norm_edit"], 0.9)


def test_reference_det_metric_golden_values(spark):
    golden = spans_df(spark, [("u", [(0, 9), (40, 45)])])
    pred = spans_df(spark, [("u", [(0, 10), (12, 19), (20, 30)])])
    ignore = spark.createDataFrame([("u", 20, 30)], "url string, start long, end long")
    row = det_metrics(pred, golden, ignore=ignore).first()
    assert (row["n_golden"], row["n_pred"], row["tp"]) == (2, 2, 1)
    assert row["precision"] == row["recall"] == row["f1"] == 0.5


def test_reference_rec_metric_golden_values(spark):
    """The reference's RecMetric golden (tests/ut/test_metrics.py:68-80,
    rec_metrics.py:153-162): after its lower/strip-space/OOD-filter
    preprocessing, gt=['balala','ba'] vs pred=['baxlala','ba'] ->
    acc = 0.5, norm_edit ~= 0.92857 (= 1 - (1/7)/2)."""
    from pyspark.sql import functions as F

    def prep(df):
        return df.select(
            "url",
            F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("text"),
        )

    golden = prep(
        spark.createDataFrame(
            [("a", "ba la la!    "), ("b", "ba       ")], "url string, text string"
        )
    )
    pred = spark.createDataFrame(
        [("a", "baxlala"), ("b", "ba")], "url string, text string"
    )
    row = rec_metrics(pred, golden).first()
    assert (row["n_docs"], row["n_correct"], row["acc"]) == (2, 1, 0.5)
    assert abs(row["norm_edit"] - 0.92857) < 1e-4


def test_iterated_greedy_rematches_unclaimed_golden(spark):
    """One prediction overlaps two goldens: a single greedy round claims
    it for the first golden and would drop the second golden's alternate
    prediction — the iterated matcher re-matches it (TP=2, not 1).
    Intervals picked so P0 clears the 0.3 IoU gate with BOTH goldens."""
    golden = spans_df(spark, [("u", [(0, 10), (10, 20)])])
    pred = spans_df(spark, [("u", [(4, 16), (12, 20)])])
    m = sorted(
        (r["p_idx"], r["g_idx"])
        for r in _match_pairs(_explode(pred, "p"), _explode(golden, "g"), 0.3).collect()
    )
    assert m == [(0, 0), (1, 1)]
    row = det_metrics(pred, golden, iou_thresh=0.3).first()
    assert (row["tp"], row["precision"], row["recall"]) == (2, 1.0, 1.0)
