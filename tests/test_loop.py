"""End-to-end active-sampling loop test (§3.1, M4): conservation
invariants + metric production on a small fixture grid."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.loop import active_sampling_loop, initial_selection
from bigdata_quality_assessment_spark.sources.generators import grid_points_2d


@pytest.fixture(scope="module")
def result(spark):
    pts = grid_points_2d(spark, 20).cache()
    pts.count()
    return (
        pts,
        active_sampling_loop(
            pts, ["x1", "x2"], n_iter=2, n_init=30, n_models=2, ngrid=64, bw=0.1, seed=42
        ),
    )


def test_train_growth(result):
    pts, res = result
    # 30 initial draws + 2 iterations × 3 explorers
    assert res.train.count() == 30 + 2 * 3


def test_pool_semantics(result):
    # Reference pool semantics (BigDataQualityAssessment_ActiveSampling
    # .py:236-237): only EXPLORER picks are deleted from the candidate
    # pool; the initial selection stays eligible.
    pts, res = result
    n = pts.count()
    assert res.pool.select("point_id").count() == n - 2 * 3
    # every id missing from the pool was picked by an explorer, hence
    # is in the training set
    missing = pts.join(res.pool, "point_id", "left_anti").select("point_id")
    train_ids = res.train.select("point_id").distinct()
    assert missing.join(train_ids, "point_id", "inner").count() == 2 * 3


def test_metrics_rows(result):
    _, res = result
    assert len(res.metrics) == 2
    for i, m in enumerate(res.metrics):
        assert m["iter"] == i
        assert m["n_rows"] == 400
        for key in ("mse", "mae", "mean_var", "log_pdf_error", "train_rows"):
            assert key in m
        assert m["mse"] >= 0 and m["mean_var"] >= 0 and m["log_pdf_error"] >= 0


def test_initial_selection_multiplicity(spark):
    pts = grid_points_2d(spark, 15)
    sel = initial_selection(pts, n_init=40, bw=0.1, ngrid=64, seed=1)
    assert sel.count() == 40  # one row per draw, repeats included
    assert sel.select("point_id").distinct().count() <= 40


def test_four_explorer_loop_with_us_lgw(spark):
    # us_lgw wired end-to-end: M5 jac/hess producer + pool-KDE pdf and
    # its spline derivative feed the higher-order geometric weight
    # (core/acquisition_fcn.py:52-54, core/likelihood.py:61-78).
    pts = grid_points_2d(spark, 15).cache()
    pts.count()
    init = pts.filter(F.col("point_id") % 8 == 0)
    res = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=2, n_models=2, ngrid=64, bw=0.1,
        acq_list=("se", "us", "us_lw", "us_lgw"), init_train=init,
    )
    n_init = init.count()
    assert res.train.count() == n_init + 2 * 4
    assert len(res.metrics) == 2
    # deterministic given init_train: re-run matches exactly
    res2 = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=2, n_models=2, ngrid=64, bw=0.1,
        acq_list=("se", "us", "us_lw", "us_lgw"), init_train=init,
    )
    assert [sorted(m.items()) for m in res.metrics] == [
        sorted(m.items()) for m in res2.metrics
    ]
    pts.unpersist()


def test_iteration_job_budget(spark):
    """One iteration runs 3 actions and at most 6 Spark jobs: the
    scored-pool checkpoint, the binning collect and the explorer top-k
    collect. The grid-sized KDE work runs on the driver, not as Spark
    jobs. Jobs are counted per job group; the difference between a 3-
    and a 1-iteration run cancels the loop's set-up jobs."""
    pts = grid_points_2d(spark, 20).cache()
    pts.count()
    init = pts.filter(F.col("point_id") % 8 == 0)
    sc = spark.sparkContext
    jobs = {}
    for n_iter in (1, 3):
        group = f"loop-job-budget-{n_iter}"
        sc.setJobGroup(group, group)
        try:
            active_sampling_loop(
                pts, ["x1", "x2"], n_iter=n_iter, n_models=2, ngrid=64, bw=0.1,
                init_train=init,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n_iter] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert (jobs[3] - jobs[1]) / 2 <= 6, jobs
    pts.unpersist()


def test_exhausted_pool(spark):
    """Three explorers drain a 9-point pool in three iterations; the
    fourth iteration has no candidates: an empty pool grid, no picks,
    and its metrics still reported."""
    pts = grid_points_2d(spark, 3)
    init = pts.filter(F.col("point_id") % 4 == 0)
    res = active_sampling_loop(
        pts, ["x1", "x2"], n_iter=4, n_models=2, ngrid=64, bw=0.1, init_train=init
    )
    assert res.train.count() == 12
    assert res.pool.count() == 0
    assert len(res.metrics) == 4
    assert [m["train_rows"] for m in res.metrics] == [3, 6, 9, 12]
