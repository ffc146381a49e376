"""M4 + §3.1: the active-sampling driver loop.

Reference flow (/root/reference/BigDataQualityAssessment_ActiveSampling.py):

    initial subset  :50-72   P12→T3→J1 (inverse-density resample, middle match)
    LOOP n_iter     :153-278
      score pool    :186-197 M2→A5/A6, P7, A1/A2/A12
      log-pdf error :199-219 A11→J3→P9/P10→A8 (A13)
      SE explorer   :222-237 P7→T1→U1→J2
      US explorer   :239-253 P14→T1→U1→J2
      US-LW explorer:255-269 A11→J3→P15→T1→U1→J2
      retrain       :271-273 M4

Spark execution model: the loop is driver-side control flow. Work
that grows with the pool — scoring, linear binning, explorer top-k —
is DataFrame work on the cluster; work that grows with the KDE grid —
the O(ngrid²) convolution, A13's log-pdf error, the pool-pdf lookup
table — runs on the driver with numpy over ≤3×ngrid collected rows.

  * The scored pool is materialized once per iteration by an eager
    ``localCheckpoint``: it feeds the binning, the metrics AND the
    explorers, and Catalyst does not CSE across actions.
  * The TRAINING SET lives on the driver. It is ≤ a few hundred rows
    BY DESIGN (distillation is the whole point of the tool — M4,
    SURVEY.md §2.8), and the reference itself collects it into
    ``model.fit``. Keeping it local means: no per-iteration
    train-union lineage (nothing to localCheckpoint), candidate
    filtering is a literal ``isin`` (no join at all), and member
    fitting is a driver-side closed-form solve — zero Spark jobs.
  * The POOL is never read inside the loop (candidates = scored pool
    minus train ids), so the shrinking pool frame is derived ONCE at
    the end as an anti-join — not re-materialized per iteration.
    Per-iteration pool copies would be O(n·iters) cluster work for
    frames nothing consumes.

Per iteration: 3 actions, 6 Spark jobs (as read from
``perfbench/run.py --workload active_loop --trace 1``):

  1. the scored-pool checkpoint (1 job), which also fills the
     ``Observation`` of the KDE grid bounds;
  2. the binning collect (2 jobs: the map stage and the ≤3×ngrid-row
     result);
  3. the explorer top-k collect (3 jobs), with the 1-row regression
     metrics cross-joined onto it.

The pool never leaves the cluster; only binned KDE weights, argmax
rows (n_explorers per iteration), scalar metrics, and model
parameters cross the boundary.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.density import (
    interp_uniform_grid,
    interp_uniform_literal,
    kde_1d,
    kde_1d_multi,  # noqa: F401 — perfbench spans loop.kde_1d_multi
    kde_bin_multi,
    kde_convolve_local,
    log_pdf_error_local,
)
from .operators.models import predict_ensemble_stats
from .operators.score import (
    acquisition_us,
    acquisition_us_lgw,
    acquisition_us_lw,
    inverse_density_weights,
    regression_metrics,
)
from .operators.select import (
    middle_match,
    pool_remove,
    train_append,
    weighted_sample_with_replacement,
)


@dataclass
class LoopResult:
    train: DataFrame
    pool: DataFrame
    metrics: list[dict] = field(default_factory=list)


def initial_selection(
    points: DataFrame,
    n_init: int = 100,
    bw: float = 0.1,
    ngrid: int = 256,
    seed: int = 42,
    id_col: str = "point_id",
    y_col: str = "y",
) -> DataFrame:
    """:50-72 — inverse-density initial subset: KDE of y → interp pdf
    at each y → weights ∝ 1/pdf → n_init draws with replacement →
    middle-match back to full rows (one row per draw)."""
    grid = kde_1d(points, y_col, bw=bw, ngrid=ngrid)
    with_pdf = interp_uniform_grid(points, grid, q_col=y_col, out_col="__pdf")
    weighted = inverse_density_weights(with_pdf, pdf_col="__pdf", weight_col="__w")
    # rng="spark" pins the legacy draw stream: the m4_loop_metrics
    # goldens (queries._M4_GOLDEN_*) were generated against it across
    # five SF tiers (sf0.001..sf10), and the loop's draw frame is k
    # rows (bounded), so the counter stream's partition-invariance
    # buys nothing here while a stream change would force an sf10
    # golden regeneration (tools/gen_loop_golden.py).
    draws = weighted_sample_with_replacement(
        weighted, "__w", n_init, seed=seed, id_col=id_col, rng="spark"
    )
    # Truncate lineage at the draw-sized frame (n_init rows): the
    # KDE→interp→weights→sampler plan is deep, and middle_match
    # references ``values`` twice — without the checkpoint Catalyst
    # re-analyzes the whole upstream per reference (seconds of pure
    # planning), and the sampler pipeline re-EXECUTES per action.
    draws = draws.localCheckpoint(eager=True)
    values = draws.select(y_col, "draw_id")
    matched = middle_match(points, values, on=y_col, id_col=id_col)
    return matched.drop("draw_id")


def active_sampling_loop(
    points: DataFrame,
    feature_cols: list[str],
    n_iter: int = 20,
    n_init: int = 100,
    n_models: int = 2,
    acq_list: tuple[str, ...] = ("se", "us", "us_lw"),
    bw: float = 0.1,
    ngrid: int = 256,
    seed: int = 42,
    id_col: str = "point_id",
    y_col: str = "y",
    init_train: DataFrame | None = None,
    member_family: str = "poly",
    mlp_epochs: int = 300,
    mlp_lr: float = 1e-3,
) -> LoopResult:
    """The full §3.1 loop with the polynomial ensemble (M1/M2). Each
    iteration scores the pool once, runs the configured explorers
    (any of ``se``/``us``/``us_lw``/``us_lgw``), and retrains. Returns
    the final train/pool frames plus per-iteration metrics
    (A1/A2/A12/A13).

    ``init_train``: optional explicit initial training frame (must
    contain ``keep_cols``); bypasses the stochastic inverse-density
    ``initial_selection`` so a seeded run is fully deterministic (the
    loop-metrics oracle query uses this).

    ``member_family``: ``"poly"`` (closed-form ridge — deterministic,
    the oracle path) or ``"mlp"`` (the reference's actual network
    family, numpy 3×Dense(8)-swish + Adam, operators/mlp.py;
    ``us_lgw`` requires the poly family's analytic jac/hess).

    Reference-parity notes:
      * only EXPLORER picks leave the candidate pool — the initial
        selection stays eligible, exactly as ``pts_temp`` is only
        ``np.delete``d per explorer pick (ref :236-237, :252-253).
      * the us_lw / us_lgw likelihood weight interpolates a KDE of the
        predicted means over the CURRENT candidate pool
        (``custom_KDE(mu(pts_temp))``, core/likelihood.py:53-58) — not
        the truth density. Deviation (documented): the pool KDE is
        built once per iteration from the iteration-start candidate
        set, while the reference rebuilds it after each sequential
        explorer deletion (a ≤2-point perturbation of an n-point KDE).
      * the A13 evaluation grid is rebuilt per iteration over the
        joint pred+truth data range padded 1% (ref :201-205), so
        predicted mass outside the truth range is never clamped away.
    """
    import numpy as np

    from .operators.models import ensemble_jac_hess, fit_poly_member

    if member_family not in ("poly", "mlp"):
        raise ValueError(f"member_family must be 'poly' or 'mlp', got {member_family!r}")
    if member_family == "mlp" and "us_lgw" in acq_list:
        raise ValueError("us_lgw needs the poly family's analytic jac/hess")

    spark = points.sparkSession

    keep_cols = [id_col, *feature_cols, y_col]
    # The distilled training set is driver-sized BY DESIGN (n_init +
    # n_iter×n_explorers rows) — collect it once; repeats from
    # with-replacement draws keep their multiplicity.
    init = (
        init_train
        if init_train is not None
        else initial_selection(
            points, n_init=n_init, bw=bw, ngrid=ngrid, seed=seed, id_col=id_col, y_col=y_col
        )
    )
    train_rows = [
        tuple(r[c] for c in keep_cols) for r in init.select(*keep_cols).collect()
    ]
    # Reference pool semantics: candidates exclude ONLY explorer picks.
    explorer_ids: set = set()

    def fit_members():
        # M4 retrain contract: member fits on the local training set
        # (the reference collects into model.fit the same way) —
        # parameters, not data, cross back to the cluster.
        X = np.array([t[1 : 1 + len(feature_cols)] for t in train_rows], dtype="float64")
        y = np.array([t[-1] for t in train_rows], dtype="float64")
        if member_family == "mlp":
            from .operators.mlp import _params_to_lists, fit_mlp_member

            return [
                _params_to_lists(
                    fit_mlp_member(X, y, mid, lr=mlp_lr, epochs=mlp_epochs, seed=seed)
                )
                for mid in range(n_models)
            ]
        return [
            list(fit_poly_member(X, y, mid, seed=seed)) for mid in range(n_models)
        ]

    def score_pool(thetas):
        if member_family == "mlp":
            from .operators.mlp import predict_ensemble_stats_mlp

            return predict_ensemble_stats_mlp(
                points, thetas, feature_cols, id_col=id_col,
                carry_cols=[*feature_cols, y_col],
            )
        return predict_ensemble_stats(
            points, thetas, feature_cols, id_col=id_col,
            carry_cols=[*feature_cols, y_col],
        )

    metrics: list[dict] = []
    thetas = fit_members()

    from pyspark.sql import Observation

    def _pad_bounds(mn, mx, pad: float = 0.01):
        """kde_bin_multi's internal bounds rule on driver floats — the
        same IEEE double ops the Catalyst expressions perform, so the
        literal path is bit-identical to the aggregate path."""
        span = (mx - mn) if (mx - mn) > 0 else 1.0
        return (mn - pad * span, mx + pad * span)

    no_grid = (np.empty(0), np.empty(0))
    for it in range(n_iter):
        # M2+M3 fused: one narrow mapInPandas pass over the pool carrying
        # features+truth through — no groupBy shuffle, no join-back.
        scored = score_pool(thetas)
        # Pool membership = NOT an explorer pick (the initial selection
        # stays in the pool, ref :236-237); the pick set is tiny, so it
        # folds into the plan as a literal ``isin`` — no join.
        not_picked = (
            ~F.col(id_col).isin(*explorer_ids) if explorer_ids else None
        )
        need_pool = "us_lw" in acq_list or "us_lgw" in acq_list
        # The KDE grid bounds (min/max: summation-order-free) ride the
        # scored pool's materialization job as an Observation.
        obs = Observation()
        obs_exprs = [
            F.least(F.min("y_mean"), F.min(y_col)).alias("jmn"),
            F.greatest(F.max("y_mean"), F.max(y_col)).alias("jmx"),
        ]
        if need_pool:
            pool_col = (
                F.when(not_picked, F.col("y_mean"))
                if not_picked is not None
                else F.col("y_mean")
            )
            obs_exprs += [
                F.min(pool_col).alias("pmn"), F.max(pool_col).alias("pmx"),
            ]
        # The eager checkpoint runs the scoring pass once; the binning
        # and explorer actions below read its stored blocks, and their
        # plans start at a two-node LogicalRDD instead of the deep
        # Arrow-inference tree.
        scored = (
            scored
            .withColumn("se", (F.col("y_mean") - F.col(y_col)) * (F.col("y_mean") - F.col(y_col)))
            .observe(obs, *obs_exprs)
            .localCheckpoint(eager=True)
        )
        ob = obs.get

        # Three densities of the scored pool: pred + truth on the shared
        # joint-range A13 grid rebuilt per iteration (ref :201-205), and
        # for us_lw/us_lgw the density of the predicted means over the
        # CURRENT candidates (custom_KDE(mu(pts_temp)),
        # core/likelihood.py:53-58). They bin in one tagged pass on the
        # cluster; the ≤3×ngrid binned rows are convolved on the driver.
        # A series with no rows (empty scored pool, exhausted
        # candidates) gets an empty grid: NULL log_pdf_error, NULL pdf.
        specs = []
        if ob["jmn"] is not None:
            joint = _pad_bounds(ob["jmn"], ob["jmx"])
            specs += [
                {"tag": "pred", "col": "y_mean", "bw": bw, "bounds": joint},
                {"tag": "truth", "col": y_col, "bw": bw, "bounds": joint},
            ]
        if need_pool and ob["pmn"] is not None:
            specs.append({
                "tag": "pool", "col": "y_mean", "bw": bw, "where": not_picked,
                "bounds": _pad_bounds(ob["pmn"], ob["pmx"]),
            })
        grids = (
            kde_convolve_local(kde_bin_multi(scored, specs, ngrid=ngrid).collect(), ngrid)
            if specs
            else {}
        )
        pool_grid = grids.get("pool", no_grid)
        lpe = log_pdf_error_local(grids.get("pred", no_grid), grids.get("truth", no_grid))

        # A1-A3/A12 are a 1-row reduction over ``scored``; it crossJoins
        # onto the explorer top-k union below so ONE collect per
        # iteration delivers metrics AND picks. They are averages, so
        # they stay out of the Observation: it merges partial sums in
        # task-completion order, and a re-run must give equal metrics.
        metric_frame = regression_metrics(scored, "y_mean", y_col, "y_var")

        candidates = (
            scored.filter(not_picked) if explorer_ids else scored
        )
        # The reference runs explorers SEQUENTIALLY, each removing its
        # pick before the next argmaxes (:236-269) — explorer k's true
        # pick excludes at most k−1 points, so it lies within its
        # top-k of the shared candidate frame. Collect top-n_exp per
        # explorer (with scores) in ONE job, then resolve the exclusion
        # order on the driver: reference semantics, 1 collect.
        n_exp = len(acq_list)
        topk_frames = []
        if "se" in acq_list:
            topk_frames.append(
                candidates
                .orderBy(F.col("se").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("se").alias("__score"),
                        F.lit("se").alias("__explorer"))
            )
        if "us" in acq_list:
            with_us = candidates.withColumn("acq", acquisition_us(candidates))
            topk_frames.append(
                with_us
                .orderBy(F.col("acq").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("acq").alias("__score"),
                        F.lit("us").alias("__explorer"))
            )
        if "us_lw" in acq_list:
            with_fy = interp_uniform_literal(
                candidates, *pool_grid, q_col="y_mean", out_col="pdf_y_mean"
            )
            with_lw = with_fy.withColumn("acq", acquisition_us_lw(with_fy))
            topk_frames.append(
                with_lw
                .orderBy(F.col("acq").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("acq").alias("__score"),
                        F.lit("us_lw").alias("__explorer"))
            )
        if "us_lgw" in acq_list:
            # M5 producer fused with the carry columns (one extra
            # narrow mapInPandas pass over candidates, no join), then
            # pdf + its spline derivative interpolated at the mean
            # (core/likelihood.py:61-78).
            jh = ensemble_jac_hess(
                candidates, thetas, feature_cols, id_col=id_col,
                carry_cols=[*feature_cols, y_col, "y_mean", "y_var"],
            )
            with_g = interp_uniform_literal(
                jh, *pool_grid, q_col="y_mean",
                out_col="pdf_y_mean", deriv_col="dpdf_y_mean",
            )
            with_lgw = with_g.withColumn("acq", acquisition_us_lgw(with_g))
            topk_frames.append(
                with_lgw
                .orderBy(F.col("acq").desc(), F.col(id_col).asc()).limit(n_exp)
                .select(*keep_cols, F.col("acq").alias("__score"),
                        F.lit("us_lgw").alias("__explorer"))
            )

        union = topk_frames[0]
        for f in topk_frames[1:]:
            union = union.unionByName(f)
        rows = union.crossJoin(F.broadcast(metric_frame)).collect()
        m = (
            {c: rows[0][c] for c in metric_frame.columns}
            if rows
            else metric_frame.first().asDict()  # degenerate: empty candidate pool
        )
        m["log_pdf_error"] = lpe
        m["iter"] = it
        m["train_rows"] = len(train_rows)
        metrics.append(m)
        by_explorer: dict[str, list] = {}
        for r in rows:
            by_explorer.setdefault(r["__explorer"], []).append(r)
        taken: dict = {}
        for name in acq_list:
            ranked = sorted(
                by_explorer.get(name, ()),
                key=lambda r: (-r["__score"], r[id_col]),
            )
            for r in ranked:
                if r[id_col] not in taken:
                    taken[r[id_col]] = r
                    break
        train_rows.extend(tuple(r[c] for c in keep_cols) for r in taken.values())
        explorer_ids.update(taken)

        thetas = fit_members()

    train = spark.createDataFrame(train_rows, points.select(*keep_cols).schema)
    pool = pool_remove(
        points,
        spark.createDataFrame(
            [(i,) for i in explorer_ids] or [(-1,)], f"{id_col} bigint"
        ),
        id_col=id_col,
    )
    return LoopResult(train=train, pool=pool, metrics=metrics)


# --------------------------------------------------------------------
# §3.2: the SDE-forecast active-sampling pipeline
# (/root/reference/SDE_forecast_ActiveSampling.py).
# --------------------------------------------------------------------


def sde_initial_resample(
    windows: DataFrame,
    coeff_col: str = "coeff",
    n_modes: int = 5,
    n_draws: int = 100,
    bw: float = 0.05,
    ngrid: int = 256,
    seed: int = 42,
    id_col: str = "window_id",
) -> DataFrame:
    """Per-mode inverse-density resample
    (SDE_forecast_ActiveSampling.py:110-135): for each POD mode m,
    KDE the coefficient distribution, weight every window ∝ 1/pdf,
    draw ``n_draws`` with replacement, and keep EVERY window whose
    coefficient equals a drawn value (the reference appends all
    boolean-mask matches, :122-126 — not a middle match); union across
    modes, then exact dedup on window identity (T5, :134-135 — deduped
    on the JOINED row, not X/Y independently)."""
    from .operators.select import dedup

    picked = None
    for mode in range(n_modes):
        with_c = windows.withColumn("__c", F.col(coeff_col)[mode])
        grid = kde_1d(with_c, "__c", bw=bw, ngrid=ngrid)
        with_pdf = interp_uniform_grid(with_c, grid, q_col="__c", out_col="__pdf")
        weighted = inverse_density_weights(with_pdf, pdf_col="__pdf", weight_col="__w")
        draws = weighted_sample_with_replacement(
            weighted.select(id_col, "__c", "__w"),
            "__w",
            n_draws,
            seed=seed + mode,
            id_col=id_col,
            rng="spark",  # golden continuity — see initial_selection
        # draw-sized lineage cut: the n_modes per-mode KDE→sampler
        # plans otherwise union into one enormous tree (see
        # initial_selection).
        ).localCheckpoint(eager=True)
        # every window matching a drawn coefficient value (values are
        # continuous, so almost always exactly the drawn row itself)
        matched = with_c.join(
            F.broadcast(draws.select("__c").distinct()), "__c", "inner"
        ).drop("__c")
        picked = matched if picked is None else picked.unionByName(matched)
    return dedup(picked, [id_col])


@dataclass
class SdeLoopResult:
    train: DataFrame
    pool: DataFrame
    weights: list[list[float]]
    metrics: list[dict] = field(default_factory=list)


def sde_forecast_loop(
    series: DataFrame,
    value_col: str = "y",
    order_col: str = "step",
    history: int = 10,
    prediction: int = 5,
    n_iter: int = 20,
    n_select: int = 20,
    n_modes: int = 5,
    n_draws: int = 100,
    bw: float = 0.05,
    ngrid: int = 256,
    ridge: float = 1e-6,
    seed: int = 42,
    group_cols: list[str] | None = None,
    init_train: DataFrame | None = None,
    forecaster_family: str = "linear",
    lstm_epochs: int = 100,
    lstm_lr: float = 1e-2,
) -> SdeLoopResult:
    """The full §3.2 pipeline: min-max scale (P11) → sliding windows
    (W1) → column concat (U2) → POD (A14) → per-mode inverse-density
    resample (A11→J3→P12→T3→J1, T5) → train forecaster (M6) → LOOP:
    per-window horizon error (P8→A4) → top-k (T2) → pool transfer
    (J2/U1) → retrain (M4) → MAE over the shrinking pool (A3,
    ``model.predict(x_train_temp)`` vs ``y_train_temp``,
    SDE_forecast_ActiveSampling.py:238-239).

    ``init_train``: optional explicit initial window-id frame
    (``window_id`` column); bypasses the stochastic per-mode resample
    so a seeded run is fully deterministic (the loop-metrics oracle
    query uses this).

    ``forecaster_family``: ``"linear"`` (closed-form ridge stand-in —
    deterministic, the oracle path) or ``"lstm"`` (the reference's
    exact network, numpy BPTT in operators/lstm.py; per-iteration
    retrain CONTINUES training the same weights, matching the
    reference's repeated ``model.fit``, ref :234).

    Same loop hygiene as §3.1: localCheckpoint per iteration cuts the
    union/anti-join lineage; the windows table is cached once."""
    from .operators.decomp import pod_svd_modes, project_coeffs
    from .operators.models import fit_linear_forecaster, predict_forecaster
    from .operators.select import top_k
    from .operators.windows import concat_history_target, minmax_scale, sliding_windows

    scaled = minmax_scale(series, value_col, out_col="__v", group_cols=group_cols)
    windows = sliding_windows(
        scaled, order_col, "__v", history=history, prediction=prediction,
        group_cols=group_cols,
    )
    if group_cols:
        # window identity must be unique across series
        windows = windows.withColumn(
            "window_id", F.xxhash64(*group_cols, F.col("window_id"))
        )
    joint = concat_history_target(windows).cache()
    joint.count()

    p = history + prediction
    s, u = pod_svd_modes(joint, "joint", p=p)
    coeffs = project_coeffs(joint, "joint", u, mean=None)

    if init_train is not None:
        picked = joint.join(
            F.broadcast(init_train.select("window_id")), "window_id", "inner"
        )
    else:
        picked = sde_initial_resample(
            coeffs, n_modes=n_modes, n_draws=n_draws, bw=bw, ngrid=ngrid, seed=seed
        )
    train = picked.select("window_id", "history", "target").localCheckpoint(eager=True)
    pool = pool_remove(joint, train, id_col="window_id").select(
        "window_id", "history", "target"
    ).localCheckpoint(eager=True)

    if forecaster_family == "lstm":
        from .operators.lstm import fit_lstm_forecaster_df, predict_lstm_forecaster

        def fit_fc(train_df, prev):
            return fit_lstm_forecaster_df(
                train_df, lr=lstm_lr, epochs=lstm_epochs, seed=seed, params=prev
            )

        predict_fc = predict_lstm_forecaster
    elif forecaster_family == "linear":
        def fit_fc(train_df, prev):
            return fit_linear_forecaster(train_df, ridge=ridge)

        predict_fc = predict_forecaster
    else:
        raise ValueError(
            f"forecaster_family must be 'linear' or 'lstm', got {forecaster_family!r}"
        )

    weights = fit_fc(train, None)
    # ONE forecaster pass over the pool per iteration. The post-retrain
    # prediction serves BOTH this iteration's MAE (reference semantics:
    # ``model.predict(x_train_temp)`` vs ``y_train_temp`` over the
    # shrinking pool, SDE_forecast_ActiveSampling.py:238-239) and the
    # NEXT iteration's selection — they are the same (pool, weights)
    # frame. It is cached (the MAE action materializes it; next
    # iteration's top-k reads the cache), and ``sel`` is checkpointed
    # eagerly BEFORE the train/pool branches consume it — as two lazy
    # references it would re-execute the pool prediction per branch.
    # Net: 1 predict/iteration where the naive structure runs 3.
    pred = predict_fc(pool, weights).cache()
    horizon_err = F.aggregate(
        F.zip_with(F.col("pred"), F.col("target"), lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    metrics: list[dict] = []
    for it in range(n_iter):
        err = pred.withColumn("horizon_err", horizon_err)
        sel = (
            top_k(err, "horizon_err", n_select, id_col="window_id")
            .select("window_id", "history", "target")
            .localCheckpoint(eager=True)
        )
        train = train_append(train, sel).localCheckpoint(eager=True)
        pool = pool_remove(pool, sel, id_col="window_id").localCheckpoint(eager=True)
        weights = fit_fc(train, weights)

        prev = pred
        pred = predict_fc(pool, weights).cache()
        mae = (
            pred.select(horizon_err.alias("e")).agg(F.avg("e")).first()[0]
        )
        prev.unpersist()
        metrics.append({"iter": it, "mae": mae, "train_rows": train.count()})

    pred.unpersist()
    joint.unpersist()
    return SdeLoopResult(train=train, pool=pool, weights=weights, metrics=metrics)
