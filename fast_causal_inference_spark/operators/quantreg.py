"""Distributed quantile regression by convolution smoothing.

Smoothed quantile regression (conquer: He-Pan-Tan-Zhou JoE 2023;
Fernandes-Guerre-Horta JBES 2021): replace the non-differentiable
pinball loss ρ_τ(r) = r(τ − 1{r<0}) with its convolution against a
logistic kernel of bandwidth h,

    ℓ_h(r) = τ·r + h·softplus(−r/h),
    ℓ_h'(r) = τ − σ(−r/h),       ℓ_h''(r) = σ(r/h)(1 − σ(r/h))/h,

(σ = logistic cdf), which is strictly convex and smooth, so a damped
Newton solve converges in a handful of iterations and the estimator
keeps the √n-normal limit of exact QR with O(h²) smoothing bias.

Why this beats a literal LP/interior-point port at 100 TB: every Newton
step is ONE Gramian-shaped aggregation (k(k+1)/2 + k + 1 sums of pure
Column expressions — `exp`/`log1p`/`greatest` stay in whole-stage
codegen; no UDF, no sort, no driver data) — the same scan kernel as the
GLM/IRLS operators (``operators/glm.py``).  The classical simplex /
interior-point QR algorithms need either global sorts or dense linear
algebra over all rows per step.

Inference: the asymptotic covariance of smoothed QR is the sandwich
τ(1−τ)·H⁻¹ S H⁻¹ with H = Σ σ'(rᵢ/h)/h·xᵢxᵢᵀ (the final Newton
Hessian) and S = Σ xᵢxᵢᵀ, both already available from the last scan.

The reference engine has no quantile regression (its OLAP UDAFs stop at
OLS/quantile sketches); this is a beyond-ref operator rounding out the
regression surface next to ``glm``/``ols``.
"""

from __future__ import annotations

import math
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import (
    collect_small_design,
    persist_design,
)
from fast_causal_inference_spark.operators.ols import parse_r_formula

__all__ = ["quantile_regression", "quantile_regression_multi",
           "QuantRegModel"]


@dataclass
class QuantRegModel:
    """Fitted smoothed-QR model for one quantile level."""

    tau: float
    beta: np.ndarray               # intercept first when use_bias
    stderr: np.ndarray
    n: float
    h: float
    iters: int
    converged: bool
    feature_exprs: list[str]
    y_expr: str
    use_bias: bool
    loss: float                    # mean smoothed pinball at the optimum
    names: list[str] = field(default_factory=list)

    def __post_init__(self):
        if not self.names:
            self.names = ((["(Intercept)"] if self.use_bias else [])
                          + list(self.feature_exprs))

    def predict_column(self) -> Column:
        xs = ([F.lit(1.0)] if self.use_bias else []) + \
            [F.expr(e).cast("double") for e in self.feature_exprs]
        eta = F.lit(float(self.beta[0])) * xs[0]
        for j in range(1, len(xs)):
            eta = eta + F.lit(float(self.beta[j])) * xs[j]
        return eta

    def predict(self, df: DataFrame, alias: str = "q_pred") -> DataFrame:
        return df.withColumn(alias, self.predict_column())

    def z_values(self) -> np.ndarray:
        return self.beta / self.stderr

    def p_values(self) -> np.ndarray:
        return np.array([2.0 * float(dist.norm_sf(abs(z)))
                         for z in self.z_values()])

    def coef_table(self):
        import pandas as pd

        return pd.DataFrame({
            "name": self.names, "tau": self.tau,
            "beta": self.beta, "stderr": self.stderr,
            "z": self.z_values(), "p_value": self.p_values()})


def _smoothed_loss_col(r: Column, tau: float, h: float) -> Column:
    # h*softplus(-r/h) computed stably: max(-r,0) + h*log1p(exp(-|r|/h))
    return (F.lit(tau) * r + F.greatest(-r, F.lit(0.0))
            + F.lit(h) * F.log1p(F.exp(-F.abs(r) / F.lit(h))))


def quantile_regression_multi(df: DataFrame, formula: str,
                              taus: list[float], h: float | None = None,
                              use_bias: bool = True, max_iter: int = 50,
                              tol: float = 1e-9,
                              ) -> list[QuantRegModel]:
    """Fit ``'y ~ x1 + x2'`` at SEVERAL quantile levels on one shared
    persisted design: the complete-case projection, its materialization,
    and the OLS warm start (which also sets the bandwidth scale) are
    paid once, and each level after the first warm-starts from the
    previous level's β — for an ordered quantile grid the neighboring
    optimum is a far better start than OLS, typically halving the Newton
    scans.  Returns one :class:`QuantRegModel` per level, in input
    order.  Numerically each solve lands within the step tolerance of
    the same unique optimum a cold solve finds (the smoothed loss is
    strictly convex), so results match per-level
    :func:`quantile_regression` calls to well below reporting precision.
    """
    for tau in taus:
        if not 0.0 < tau < 1.0:
            raise ValueError(f"tau must be in (0, 1), got {tau}")
    if not taus:
        return []
    y_expr, feats = parse_r_formula(formula)
    k = len(feats)
    p = k + (1 if use_bias else 0)
    if p == 0:
        raise ValueError("empty design: no features and use_bias=False")
    xs = ([F.lit(1.0)] if use_bias else []) + \
        [F.expr(e).cast("double") for e in feats]
    y = F.expr(y_expr).cast("double")
    cc = y.isNotNull()
    for e in feats:
        cc = cc & F.expr(e).cast("double").isNotNull()
    df = df.where(cc)
    with ExitStack() as scope:
        # persist the projected design for the Newton loop (design.py); the
        # OLS warm start below doubles as its materialization
        df, y, xs, _ = persist_design(scope, df, y, xs[1:] if use_bias else xs,
                                      use_bias=use_bias)

        # warm start at OLS; its residual sd sets the bandwidth scale
        from fast_causal_inference_spark.operators.ols import ols

        init = ols(df, "__y__ ~ " + " + ".join(f"__x{j}__" for j in range(k)),
                   use_bias=use_bias)
        beta = np.asarray(init.beta, dtype=float).copy()
        n0 = float(init.n)
        if n0 < p + 1:
            raise ValueError(f"quantile_regression: n={n0:.0f} rows < p+1")
        sigma0 = math.sqrt(max(init.sigma2, 1e-12)) \
            if init.sigma2 == init.sigma2 else 1.0
        if h is None:
            h = max(sigma0 * ((p + math.log(n0)) / n0) ** 0.4, 1e-3 * sigma0,
                    1e-8)
        h = float(h)
        if h <= 0:
            raise ValueError(f"bandwidth h must be positive, got {h}")

        _S_cache: list = [None]         # X'X memo for the distributed scans

        def _scan(b: np.ndarray, h: float, tau: float):
            eta: Column = F.lit(float(b[0])) * xs[0]
            for j in range(1, p):
                eta = eta + F.lit(float(b[j])) * xs[j]
            r = y - eta
            # two-stage projection (the glm.py pattern): materialize r and
            # the ONE sigmoid first — a flat Project inlines the EXP chain
            # into w (twice), g1 and the loss term, i.e. 4 EXP evaluations
            # per row where one suffices (CollapseProject keeps the staged
            # multi-referenced non-cheap alias in place; per-row arithmetic
            # — hence every float sum — is unchanged)
            base = df.select(*[c.alias(f"__p{i}__") for i, c in enumerate(xs)],
                             r.alias("__r__"), y.alias("__yy__"))
            rc = F.col("__r__")
            mid = base.select(
                "*", (F.lit(1.0) / (F.lit(1.0)
                                    + F.exp(-rc / F.lit(h)))).alias("__s__"))
            sigc = F.col("__s__")
            w = sigc * (F.lit(1.0) - sigc) / F.lit(h)        # loss''
            g1 = F.lit(tau) - (F.lit(1.0) - sigc)            # loss' in r
            step = mid.select(*[F.col(f"__p{i}__") for i in range(p)],
                              w.alias("__w__"), g1.alias("__g1__"),
                              _smoothed_loss_col(rc, tau, h).alias("__l__"),
                              F.col("__yy__"))
            ps = [F.col(f"__p{i}__") for i in range(p)]
            wc, g1c = F.col("__w__"), F.col("__g1__")
            aggs = []
            for i in range(p):
                # gradient wrt beta_i is -sum(x_i * loss'(r))
                aggs.append(F.sum(ps[i] * g1c).alias(f"g{i}"))
                for j in range(i, p):
                    aggs.append(F.sum(wc * ps[i] * ps[j]).alias(f"h{i}_{j}"))
                    if _S_cache[0] is None:
                        # S = X'X is β- and τ-independent: pay its p(p+1)/2
                        # sums on the FIRST scan only (every later scan of
                        # the Newton/line-search sequence drops them)
                        aggs.append(F.sum(ps[i] * ps[j]).alias(f"s{i}_{j}"))
            aggs.append(F.sum(F.col("__l__")).alias("loss__"))
            aggs.append(F.count(F.col("__yy__")).alias("n__"))
            row = step.agg(*aggs).collect()[0]
            g = np.array([float(row[f"g{i}"]) for i in range(p)])
            H = np.empty((p, p))
            for i in range(p):
                for j in range(i, p):
                    H[i, j] = H[j, i] = float(row[f"h{i}_{j}"])
            if _S_cache[0] is None:
                S = np.empty((p, p))
                for i in range(p):
                    for j in range(i, p):
                        S[i, j] = S[j, i] = float(row[f"s{i}_{j}"])
                _S_cache[0] = S
            return (g, H, _S_cache[0], float(row["loss__"]),
                    float(row["n__"]))

        # small-input fast path (round 11, design.collect_small_design):
        # collect the complete-case design once; every Newton scan —
        # including the line-search re-scans — runs driver-side in numpy
        # with the identical smoothed-check-loss algebra
        des, df = collect_small_design(scope, df, xs, y, F.lit(0.0),
                                       n_rows=int(n0))

        # X'X is independent of (b, h, tau): compute it once instead of per
        # Newton/line-search scan (the sandwich S is the same object every
        # scan returned anyway — bit-identical, one GEMM per solve saved)
        _S_np = des[0].T @ des[0] if des is not None else None

        def _scan_np(b: np.ndarray, hh: float, tau: float):
            X_, yv, _ = des
            with np.errstate(over="ignore", under="ignore"):
                r = yv - X_ @ b
                sig = 1.0 / (1.0 + np.exp(-r / hh))
                w = sig * (1.0 - sig) / hh
                g1 = tau - (1.0 - sig)
                # h*softplus(-r/h) stably: max(-r,0) + h*log1p(exp(-|r|/h))
                loss = (tau * r + np.maximum(-r, 0.0)
                        + hh * np.log1p(np.exp(-np.abs(r) / hh)))
            g = X_.T @ g1
            H = (X_ * w[:, None]).T @ X_
            return g, H, _S_np, float(loss.sum()), float(len(yv))

        scan = _scan_np if des is not None else _scan

        def _newton(beta: np.ndarray, hh: float, tau: float,
                    iters_budget: int, step_tol: float):
            """Damped Newton at fixed bandwidth hh from the given start."""
            g, H, S, loss, n = scan(beta, hh, tau)
            converged = False
            it = 0
            for it in range(1, iters_budget + 1):
                # Newton direction on the smoothed loss (grad wrt beta = -g)
                try:
                    step = np.linalg.solve(H, g)
                except np.linalg.LinAlgError:
                    step = np.linalg.lstsq(H, g, rcond=None)[0]
                if float(np.max(np.abs(step))) < step_tol:
                    converged = True
                    break
                trial = beta + step
                g2, H2, S2, loss2, n = scan(trial, hh, tau)
                halvings = 0
                while loss2 > loss + 1e-12 * abs(loss) and halvings < 20:
                    step *= 0.5
                    trial = beta + step
                    g2, H2, S2, loss2, n = scan(trial, hh, tau)
                    halvings += 1
                if loss2 > loss + 1e-12 * abs(loss):
                    # the halving budget ran out WITHOUT finding descent —
                    # abandon; a 20th halving that DID improve is accepted
                    break
                beta, g, H, S, loss = trial, g2, H2, S2, loss2
                if float(np.max(np.abs(step))) < step_tol:
                    converged = True
                    break
            return beta, g, H, S, loss, n, it, converged

        step_tol = tol * max(1.0, sigma0)
        models = []
        start = beta
        for tau in taus:
            beta_t, g, H, S, loss, n, it, converged = _newton(
                start.copy(), h, tau, max_iter, step_tol)
            # sandwich: tau(1-tau)*H^-1 S H^-1 (sums — 1/n implicit)
            Hinv = np.linalg.pinv(H)
            cov = tau * (1 - tau) * Hinv @ S @ Hinv
            stderr = np.sqrt(np.maximum(np.diag(cov), 0.0))
            models.append(QuantRegModel(
                tau=tau, beta=beta_t, stderr=stderr, n=n, h=h,
                iters=it, converged=converged, feature_exprs=feats,
                y_expr=y_expr, use_bias=use_bias,
                loss=loss / max(n, 1.0)))
            # warm-start the next level from this converged β only if
            # the solve actually converged — a dead-end start must not
            # poison the rest of the grid
            if converged:
                start = beta_t
    return models


def quantile_regression(df: DataFrame, formula: str, tau: float = 0.5,
                        h: float | None = None, use_bias: bool = True,
                        max_iter: int = 50, tol: float = 1e-9,
                        ) -> QuantRegModel:
    """Fit ``'y ~ x1 + x2'`` at quantile level ``tau`` by smoothed-QR
    damped Newton.  ``h`` defaults to the conquer rule scaled by the
    initial residual spread: h = σ̂·((p + log n)/n)^(2/5), floored so the
    logistic weights never degenerate.  One Gramian scan per Newton
    step; an extra scan only when a step must be halved.
    """
    return quantile_regression_multi(df, formula, [tau], h=h,
                                     use_bias=use_bias, max_iter=max_iter,
                                     tol=tol)[0]
