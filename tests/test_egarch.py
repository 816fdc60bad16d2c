"""EGARCH guards + fit properties (reference test_phase1.py:440-523)."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from gapless_deribit_clickhouse_spark.exceptions import (
    ConfigurationError,
    InsufficientDataError,
)
from gapless_deribit_clickhouse_spark.features.egarch import (
    auto_select_egarch,
    egarch_params_by_group,
    fit_egarch,
    forecast_volatility,
    iv_model_spread,
)
from tests.conftest import make_regular_iv_series


def test_fit_basic_attributes(regular_iv_series):
    res = fit_egarch(regular_iv_series.iv_close, regular_iv_series.ts)
    assert res.n_obs == 199
    assert np.isfinite(res.loglik) and np.isfinite(res.aic) and np.isfinite(res.bic)
    assert res.scale_factor > 0
    assert len(res.conditional_volatility) == res.n_obs
    assert (res.conditional_volatility > 0).all()
    assert set(res.params) == {"mu", "omega", "alpha1", "gamma1", "beta1"}
    assert abs(res.params["beta1"]) < 1.0  # stationarity clamp


def test_short_series_raises():
    s = make_regular_iv_series(n=50)
    with pytest.raises(InsufficientDataError):
        fit_egarch(s.iv_close, s.ts)


def test_irregular_series_rejected():
    s = make_regular_iv_series(n=120)
    # mixed 5/15/30-min gaps (FIXTURES §3 irregular variant)
    rng = np.random.RandomState(7)
    offsets = np.cumsum(rng.choice([300, 900, 1800, 2700], size=120))
    s["ts"] = pd.Timestamp("2024-12-01") + pd.to_timedelta(offsets, unit="s")
    with pytest.raises(ConfigurationError):
        fit_egarch(s.iv_close, s.ts)


def test_auto_select_picks_best():
    s = make_regular_iv_series(n=300)
    best = auto_select_egarch(s.iv_close, s.ts)
    base = fit_egarch(s.iv_close, s.ts, p=1, q=1)
    assert best.aic <= base.aic + 1e-6


def test_forecast_positive_and_converging(regular_iv_series):
    res = fit_egarch(regular_iv_series.iv_close, regular_iv_series.ts)
    fc = forecast_volatility(res, horizon=20)
    assert len(fc) == 20 and (fc > 0).all()
    with pytest.raises(ConfigurationError):
        forecast_volatility(res, horizon=0)


def test_iv_model_spread_aligns(regular_iv_series):
    res = fit_egarch(regular_iv_series.iv_close, regular_iv_series.ts)
    spread = iv_model_spread(regular_iv_series.iv_close, res)
    assert len(spread) == res.n_obs


FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "egarch")


def _load_fixture(name):
    """Committed golden fixture (VERDICT r3 #5): the simulated series
    and its expected parameters live in tests/fixtures/egarch/ so the
    numeric pin is byte-reproducible — an RNG/optimizer behavior change
    surfaces as an explicit diff against golden.json, not a silently
    regenerated fixture. Regenerate via tools/make_egarch_fixtures.py."""
    pdf = pd.read_parquet(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
    with open(os.path.join(FIXTURE_DIR, "golden.json")) as f:
        golden = json.load(f)[name]
    return pdf, golden


def test_fit_recovers_known_parameters():
    """Value-level pin (VERDICT r2 #5): on the committed series
    generated by an exact EGARCH(1,1) process with known coefficients,
    the MLE must recover (omega, alpha, gamma, beta) within
    estimation-error tolerances — 'runs' upgraded to 'right'. The
    reference pins its fit via the arch package's estimator; with no
    arch in this container, the data-generating process itself is the
    ground truth."""
    pdf, golden = _load_fixture("recovery")
    true = golden["true"]
    res = fit_egarch(pd.Series(pdf.level.to_numpy()))
    assert res.scale_factor == 1.0  # simulated in arch's preferred band
    assert abs(res.params["omega"] - true["omega"]) < 0.05
    assert abs(res.params["alpha1"] - true["alpha"]) < 0.08
    assert abs(res.params["gamma1"] - true["gamma"]) < 0.05
    assert abs(res.params["beta1"] - true["beta"]) < 0.03
    # the fitted conditional-vol path must track the true path
    sig = pdf.true_sigma.to_numpy()[1:]
    m = min(len(res.conditional_volatility), len(sig))
    corr = np.corrcoef(res.conditional_volatility[-m:], sig[-m:])[0, 1]
    assert corr > 0.9


def test_fit_matches_golden_pin():
    """Drift detector: the estimator on the committed series must
    reproduce the committed fitted parameters closely (optimizer is
    deterministic; slack absorbs BLAS/scipy build-level noise). A
    genuine estimator change must update golden.json deliberately."""
    for name in ("recovery", "leverage_neg", "leverage_pos"):
        pdf, golden = _load_fixture(name)
        res = fit_egarch(pd.Series(pdf.level.to_numpy()))
        for k, v in golden["fitted"].items():
            assert abs(res.params[k] - v) < 1e-3, (name, k, res.params[k], v)
        assert abs(res.loglik - golden["loglik"]) < 0.1


def test_fit_recovers_leverage_sign():
    """The asymmetry (leverage) coefficient's sign is identified:
    positive-gamma and negative-gamma processes fit back with the
    matching sign."""
    for name in ("leverage_neg", "leverage_pos"):
        pdf, golden = _load_fixture(name)
        gamma = golden["true"]["gamma"]
        res = fit_egarch(pd.Series(pdf.level.to_numpy()))
        assert np.sign(res.params["gamma1"]) == np.sign(gamma)
        assert abs(res.params["gamma1"] - gamma) < 0.08


def test_egarch_by_group_distributed(spark):
    frames = []
    for key, seed in (("BTC", 123), ("ETH", 321)):
        pdf = make_regular_iv_series(n=150, seed=seed)
        pdf["underlying"] = key
        frames.append(pdf)
    df = spark.createDataFrame(pd.concat(frames))
    out = egarch_params_by_group(df, ["underlying"]).toPandas().set_index("underlying")
    assert set(out.index) == {"BTC", "ETH"}
    assert out.error.isna().all()
    assert (out.n_obs == 149).all()


def test_egarch_by_group_guard_failure_isolated(spark):
    good = make_regular_iv_series(n=150, seed=1)
    good["underlying"] = "OK"
    bad = make_regular_iv_series(n=40, seed=2)  # too short
    bad["underlying"] = "SHORT"
    df = spark.createDataFrame(pd.concat([good, bad]))
    out = egarch_params_by_group(df, ["underlying"]).toPandas().set_index("underlying")
    assert out.loc["OK"].error is None or pd.isna(out.loc["OK"].error)
    assert "InsufficientDataError" in out.loc["SHORT"].error


def test_egarch_inputs_binding_matches_fit_preprocessing(spark):
    """The oracle-checked egarch_inputs projection must be the SAME
    series fit_egarch differentiates: recompute 100*diff(ln v) in
    numpy from the binding's own hourly series and compare."""
    import numpy as np
    from pyspark.sql import functions as F

    from gapless_deribit_clickhouse_spark.bindings.extra_ops import (
        egarch_inputs_q,
    )
    from gapless_deribit_clickhouse_spark.core.tables import load_table
    from gapless_deribit_clickhouse_spark.functions.timeutils import time_bucket

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    series = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(time_bucket(F.col("ts"), 3600).alias("bts"))
        .agg((F.count(F.lit(1)) + 1).cast("double").alias("v"))
        .orderBy("bts")
        .collect()
    )
    v = np.array([r["v"] for r in series])
    expect = 100.0 * np.diff(np.log(v))
    got = (
        egarch_inputs_q(spark, sf)
        .filter(F.col("event_type") == "view")
        .orderBy("idx")
        .collect()
    )
    assert [r["idx"] for r in got] == list(range(1, len(v)))
    assert np.allclose([r["r100"] for r in got], expect, rtol=1e-12)


def test_forecast_path_matches_forecast_volatility(spark, regular_iv_series):
    """The distributed fold (features/egarch.py:forecast_path) must
    reproduce forecast_volatility's analytic recursion exactly for
    p=1: same seed convention (ln h_t of the last conditional
    variance), same omega + beta * prev step, same exp(0.5*lh)
    mapping (scale_factor 1 on both sides)."""
    from gapless_deribit_clickhouse_spark.features.egarch import (
        fit_egarch,
        forecast_path,
        forecast_volatility,
    )

    res = fit_egarch(regular_iv_series.iv_close, regular_iv_series.ts)
    horizon = 7
    expected = forecast_volatility(res, horizon=horizon)

    # seed exactly as forecast_volatility does for p=1, with the
    # scale factor folded in (forecast_path is scale-agnostic; divide
    # sigma by scale afterwards just like the numpy code does)
    lh0 = float(
        np.log(np.square(res.conditional_volatility[-1] * res.scale_factor))
    )
    seeds = spark.createDataFrame([("g", lh0)], "grp string, lh0 double")
    got = (
        forecast_path(
            seeds,
            ["grp"],
            "lh0",
            omega=res.params["omega"],
            beta=res.params["beta1"],
            horizon=horizon,
        )
        .orderBy("step")
        .toPandas()
    )
    assert list(got["step"]) == list(range(1, horizon + 1))
    np.testing.assert_allclose(
        got["sigma"].to_numpy() / res.scale_factor, expected, rtol=1e-12
    )


def test_forecast_path_rejects_bad_horizon(spark):
    from gapless_deribit_clickhouse_spark.features.egarch import forecast_path

    seeds = spark.createDataFrame([("g", 0.0)], "grp string, lh0 double")
    with pytest.raises(ConfigurationError):
        forecast_path(seeds, ["grp"], "lh0", omega=-0.1, beta=0.9, horizon=0)


def test_loglik_by_group_matches_kernel(spark):
    """The distributed fixed-params likelihood must equal a direct
    ``_neg_loglik`` call per group — the binding's DuckDB oracle then
    checks the kernel itself cross-engine (VERDICT r8 #5)."""
    import numpy as np
    import pandas as pd

    from gapless_deribit_clickhouse_spark.features.egarch import (
        _neg_loglik,
        loglik_by_group,
    )

    rng = np.random.default_rng(11)
    theta = (0.05, -0.1, 0.15, -0.05, 0.92)
    rows = []
    expected = {}
    for g in ("a", "b"):
        r = rng.normal(0.0, 1.0, 300)
        expected[g] = float(_neg_loglik(np.asarray(theta), r, 1, 1))
        rows += [(g, i, float(v)) for i, v in enumerate(r)]
    df = spark.createDataFrame(rows, "grp string, idx int, r100 double")
    got = {
        row["grp"]: row["neg_loglik"]
        for row in loglik_by_group(
            df, keys=["grp"], order_col="idx", theta=theta
        ).collect()
    }
    for g in ("a", "b"):
        assert abs(got[g] - expected[g]) < 1e-9, (g, got[g], expected[g])


def test_loglik_by_group_int_keys(spark):
    """ADVICE r9: key field types must come from the input schema —
    grouping by an int key used to hit a string/int schema mismatch
    at the applyInPandas boundary."""
    import numpy as np

    from gapless_deribit_clickhouse_spark.features.egarch import (
        _neg_loglik,
        loglik_by_group,
    )

    rng = np.random.default_rng(7)
    theta = (0.05, -0.1, 0.15, -0.05, 0.92)
    rows, expected = [], {}
    for g in (1, 2):
        r = rng.normal(0.0, 1.0, 200)
        expected[g] = float(_neg_loglik(np.asarray(theta), r, 1, 1))
        rows += [(g, i, float(v)) for i, v in enumerate(r)]
    df = spark.createDataFrame(rows, "grp int, idx int, r100 double")
    out = loglik_by_group(
        df, keys=["grp"], order_col="idx", theta=theta
    )
    assert dict(out.dtypes)["grp"] == "int"
    got = {row["grp"]: row["neg_loglik"] for row in out.collect()}
    for g in (1, 2):
        assert abs(got[g] - expected[g]) < 1e-9


def test_egarch_params_by_group_int_keys(spark):
    """Same schema contract for the MLE fit wrapper."""
    import numpy as np

    from gapless_deribit_clickhouse_spark.features.egarch import (
        egarch_params_by_group,
    )

    rng = np.random.default_rng(3)
    vals = np.exp(np.cumsum(rng.normal(0, 0.01, 150))) + 1.0
    rows = [(5, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp int, ts int, iv_close double")
    out = egarch_params_by_group(df, keys=["grp"])
    assert dict(out.dtypes)["grp"] == "int"
    row = out.collect()[0]
    assert row["grp"] == 5 and row["error"] is None


def test_loglik_by_group_param_sets_and_guard(spark):
    """VERDICT r9 #5: multi-point evaluation in one crossing — the
    smooth point matches the kernel, the guard point (sum|beta| >=
    0.999) returns the early-exit 1e12 exactly."""
    import numpy as np

    from gapless_deribit_clickhouse_spark.features.egarch import (
        _neg_loglik,
        loglik_by_group,
    )

    rng = np.random.default_rng(13)
    smooth = (0.05, -0.1, 0.15, -0.05, 0.92)
    guard = (0.05, -0.1, 0.15, -0.05, 0.9995)
    r = rng.normal(0.0, 1.0, 250)
    rows = [("g", i, float(v)) for i, v in enumerate(r)]
    df = spark.createDataFrame(rows, "grp string, idx int, r100 double")
    out = {
        row["param_set"]: row["neg_loglik"]
        for row in loglik_by_group(
            df,
            keys=["grp"],
            order_col="idx",
                param_sets={"smooth": smooth, "guard": guard},
        ).collect()
    }
    expected = float(_neg_loglik(np.asarray(smooth), r, 1, 1))
    assert abs(out["smooth"] - expected) < 1e-9
    assert out["guard"] == 1e12


def test_nelder_mead_step_matches_optimizer_first_iteration(spark):
    """VERDICT r9 #4: the distributed one-step binding must reproduce
    exactly what _nelder_mead's loop body would do on the same simplex
    — sort, centroid, probe points, acceptance rule."""
    import numpy as np

    from gapless_deribit_clickhouse_spark.features.egarch import (
        _neg_loglik,
        build_initial_simplex,
        nelder_mead_step_by_group,
    )

    rng = np.random.default_rng(17)
    r = rng.normal(0.0, 1.0, 220)
    sim0 = np.asarray(
        build_initial_simplex((0.05, -0.1, 0.15, -0.05, 0.92)), dtype=np.float64
    )

    # reference: one literal iteration of the optimizer's loop body
    fval = np.array([_neg_loglik(v, r, 1, 1) for v in sim0])
    order = np.argsort(fval, kind="stable")
    sim, fv = sim0[order], fval[order]
    centroid = sim[:-1].mean(axis=0)
    xr = centroid + (centroid - sim[-1])
    fr = _neg_loglik(xr, r, 1, 1)
    if fr < fv[0]:
        xe = centroid + 2.0 * (centroid - sim[-1])
        fe = _neg_loglik(xe, r, 1, 1)
        exp_action, exp_new = ("expand", xe) if fe < fr else ("reflect", xr)
    elif fr < fv[-2]:
        exp_action, exp_new = "reflect", xr
    else:
        xc = centroid + 0.5 * (sim[-1] - centroid)
        fc = _neg_loglik(xc, r, 1, 1)
        exp_action, exp_new = (
            ("contract", xc) if fc < fv[-1] else ("shrink", None)
        )

    # the beta-perturbed vertex must actually trip the guard, or this
    # test stops exercising the 1e12 branch inside the sort
    assert fval[5] == 1e12

    rows = [("g", i, float(v)) for i, v in enumerate(r)]
    df = spark.createDataFrame(rows, "grp string, idx int, r100 double")
    got = nelder_mead_step_by_group(
        df, keys=["grp"], order_col="idx", simplex=sim0
    ).collect()[0]

    assert got["action"] == exp_action
    assert abs(got["f_best"] - fv[0]) < 1e-9
    assert abs(got["f_second_worst"] - fv[-2]) < 1e-9
    assert got["f_worst"] == fv[-1]
    assert abs(got["f_reflect"] - fr) < 1e-9
    names = ["new_mu", "new_omega", "new_alpha1", "new_gamma1", "new_beta1"]
    if exp_new is None:
        assert all(got[c] is None for c in names)
    else:
        for c, v in zip(names, exp_new):
            assert abs(got[c] - float(v)) < 1e-12


def test_nelder_mead_step_rejects_malformed_simplex(spark):
    from gapless_deribit_clickhouse_spark.features.egarch import (
        nelder_mead_step_by_group,
    )

    df = spark.createDataFrame([("g", 0, 0.1)], "grp string, idx int, r100 double")
    with pytest.raises(ConfigurationError, match="n\\+1"):
        nelder_mead_step_by_group(
            df, keys=["grp"], simplex=[[0.0] * 5] * 4
        )


def test_nelder_mead_step_rejects_wrong_width_simplex(spark):
    """r10 self-review: a simplex whose width disagrees with (p, q)
    must fail loudly, not silently evaluate a beta-less model."""
    from gapless_deribit_clickhouse_spark.features.egarch import (
        nelder_mead_step_by_group,
    )

    df = spark.createDataFrame([("g", 0, 0.1)], "grp string, idx int, r100 double")
    with pytest.raises(ConfigurationError, match="simplex width"):
        nelder_mead_step_by_group(df, keys=["grp"], simplex=[[0.0] * 4] * 5)


def test_optimizer_uses_shared_simplex_construction():
    """_nelder_mead must seed from build_initial_simplex — the same
    construction the oracled step binding pins — so the two cannot
    drift (r10 self-review)."""
    import inspect

    from gapless_deribit_clickhouse_spark.features import egarch

    assert "build_initial_simplex(x0)" in inspect.getsource(egarch._nelder_mead)


def test_nelder_mead_two_iteration_expand_fixture():
    """VERDICT r10 #7: fixture-pin the convergence LOOP itself (the
    one piece of EGARCH arithmetic with no oracle — the step body and
    the objective are oracled separately). On f(x) = (x-3)^2 from
    x0 = [0.0], both of the first two iterations must take the expand
    branch, and every probe point is hand-derivable exact float
    arithmetic: simplex [0.0, 0.05] -> expand to 0.15 -> expand to
    0.35. max_iter=2 pins exactly two loop-body executions."""
    from gapless_deribit_clickhouse_spark.features.egarch import (
        _nelder_mead,
        build_initial_simplex,
    )

    assert build_initial_simplex([0.0]) == [[0.0], [0.05]]
    f = lambda x: (float(x[0]) - 3.0) ** 2  # noqa: E731

    # hand derivation (1-D: centroid == best vertex, all ops exact):
    # iter 1: sorted sim [0.05, 0.0]; xr = 0.05+(0.05-0.0) = 0.10;
    #   f(0.10) < f(0.05) -> expand: xe = 0.05+2*(0.05-0.0) = 0.15,
    #   f(0.15) < f(0.10) -> accept 0.15
    x1 = 0.05 + 2.0 * (0.05 - 0.0)
    # iter 2: sorted sim [0.15, 0.05]; expand again
    x2 = x1 + 2.0 * (x1 - 0.05)
    assert abs(x2 - 0.35) < 1e-15  # 0.35 up to one ulp of binary fp

    got = _nelder_mead(f, np.array([0.0]), max_iter=2)
    assert got.shape == (1,)
    assert got[0] == x2


def test_nelder_mead_shrink_branch_rescales_and_reevaluates():
    """The shrink branch (the only loop-body branch the oracled step
    returns NULL vertices for, because the real optimizer rescales the
    WHOLE simplex) must contract every vertex halfway toward the best
    one and re-evaluate ALL of them. A lookup-table objective forces
    shrink on iteration 1; the recorded call sequence pins the
    geometry: probes at xr=-0.05, xe=-0.10, xc=0.025, then the full
    re-evaluation at the rescaled vertices {0.0, 0.025}."""
    from gapless_deribit_clickhouse_spark.features.egarch import _nelder_mead

    table = {0.0: 0.0, 0.05: 1.0, -0.05: 2.0, -0.1: 2.0, 0.025: 2.0}
    calls: list[float] = []

    def f(x):
        v = float(x[0])
        calls.append(v)
        return table[round(v, 6)]

    got = _nelder_mead(f, np.array([0.0]), max_iter=1)
    # initial evals (0.0, 0.05), probes (reflect, expand only when
    # fr < f_best — not here; contract), then the shrink re-eval pass
    assert calls[:2] == [0.0, 0.05]
    assert calls[2] == -0.05  # xr = centroid + (centroid - worst)
    assert calls[3] == 0.025  # xc = centroid + 0.5*(worst - centroid)
    # shrink: sim = best + 0.5*(sim - best) -> vertices {0.0, 0.025},
    # BOTH re-evaluated (fval rebuilt wholesale, not patched)
    assert calls[4:] == [0.0, 0.025]
    assert got[0] == 0.0  # best after the shrink re-evaluation


def test_nelder_mead_loop_equals_chained_oracled_steps(spark):
    """VERDICT r10 #7, the loop-to-oracle tie: two iterations of
    _nelder_mead on a literal series must land exactly where two
    CHAINED applications of the oracled step binding
    (``egarch_nm_step``'s kernel, full DuckDB WITH RECURSIVE oracle)
    land, with the between-step simplex reconstructed from each step's
    returned action + accepted vertex. This pins the loop's remaining
    unchecked wiring — re-sort each iteration, replacement into the
    worst slot, end-of-loop argmin — to independently-oracled pieces."""
    from gapless_deribit_clickhouse_spark.features.egarch import (
        _neg_loglik,
        _nelder_mead,
        build_initial_simplex,
        nelder_mead_step_by_group,
    )

    rng = np.random.default_rng(17)
    r = rng.normal(0.0, 1.0, 220)
    x0 = np.array([0.05, -0.1, 0.15, -0.05, 0.92])
    rows = [("g", i, float(v)) for i, v in enumerate(r)]
    df = spark.createDataFrame(rows, "grp string, idx int, r100 double")
    names = ["new_mu", "new_omega", "new_alpha1", "new_gamma1", "new_beta1"]

    sim = np.asarray(build_initial_simplex(x0), dtype=np.float64)
    actions = []
    for _ in range(2):
        fval = np.array([_neg_loglik(v, r, 1, 1) for v in sim])
        order = np.argsort(fval, kind="stable")
        sim = sim[order]
        row = nelder_mead_step_by_group(
            df, keys=["grp"], order_col="idx", simplex=sim
        ).collect()[0]
        actions.append(row["action"])
        if row["action"] == "shrink":
            sim = sim[0] + 0.5 * (sim - sim[0])
        else:
            sim[-1] = np.array([row[c] for c in names])
    fval = np.array([_neg_loglik(v, r, 1, 1) for v in sim])
    expected = sim[np.argmin(fval)]

    got = _nelder_mead(
        lambda th: _neg_loglik(th, r, 1, 1), x0, max_iter=2
    )
    assert actions and all(a in ("expand", "reflect", "contract", "shrink") for a in actions)
    np.testing.assert_allclose(got, expected, rtol=1e-12, atol=0.0)


def test_nelder_mead_full_fit_fixture_pin():
    """VERDICT r11 #6, the full-fit pin closing the egarch_params
    narrative: ``_nelder_mead`` run to CONVERGENCE (default
    max_iter/tol) on the same seed-17 220-point literal series the
    loop pins use must land on this fixed point, pinned to 1e-6. With
    the inputs, the objective (both branches), one full iteration, and
    the loop wiring each oracled separately, this pins the only
    remaining unchecked thing — the composed fixed point itself. The
    optimizer is deterministic end to end (stable sort, no RNG), so a
    drift here means the fit arithmetic changed."""
    from gapless_deribit_clickhouse_spark.features.egarch import (
        _neg_loglik,
        _nelder_mead,
    )

    rng = np.random.default_rng(17)
    r = rng.normal(0.0, 1.0, 220)
    x0 = np.array([0.05, -0.1, 0.15, -0.05, 0.92])

    theta = _nelder_mead(lambda th: _neg_loglik(th, r, 1, 1), x0)

    # fixture recorded r12 (theta = [mu, omega, alpha1, gamma1, beta1])
    pinned = np.array(
        [
            -0.086659990,
            0.045085958,
            -0.027056607,
            -0.134172043,
            -0.372688475,
        ]
    )
    np.testing.assert_allclose(theta, pinned, rtol=0.0, atol=1e-6)
    nll = _neg_loglik(theta, r, 1, 1)
    np.testing.assert_allclose(nll, 315.565580, rtol=0.0, atol=1e-5)
    # fit invariants: converged point beats the start, is finite, and
    # sits inside the stationarity guard (|beta| < 0.999 — the guard
    # branch returns 1e12, which can never be a minimum here)
    assert nll < _neg_loglik(x0, r, 1, 1)
    assert np.isfinite(theta).all()
    assert abs(theta[4]) < 0.999
