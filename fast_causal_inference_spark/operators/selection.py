"""Heckman two-step sample-selection correction (heckit).

Beyond the reference (its regression surface assumes the outcome is
observed for everyone): the classic fix for outcomes observed only for a
self-selected subsample — revenue observed only for converters, survey
answers only for responders.  Step 1 fits a probit of selection on Z;
step 2 regresses the observed outcomes on [X, λ] where λ = φ(zγ̂)/Φ(zγ̂)
is the inverse Mills ratio; β_λ = ρσ picks up the selection correlation.

SEs are the Greene two-step asymptotic covariance (accounting for both
the generated regressor and the heteroskedastic truncated errors):
σ̂² = e'e/n₁ + β_λ²·Σδ/n₁ with δ = λ(λ + zγ̂), ρ̂² = β_λ²/σ̂², and
Cov = σ̂²(W'W)⁻¹[W'(I−ρ̂²Δ)W + ρ̂²(W'ΔZ)V_probit(Z'ΔW)](W'W)⁻¹.

Scale shape: one probit (Fisher-scoring Gramian scans,
``glm.py:_binomial_glm``), then TWO aggregation scans — the step-2
Gramian [W'W, W'y], and the correction moments [e'e, Σδ, W'ΔW, W'ΔZ] —
every per-row quantity (λ, δ, e) a pure Column off the driver-held
coefficient vectors (Φ from the exact Arrow ``erf``).  Nothing row-scale
reaches the driver.
"""

from __future__ import annotations

import math
from contextlib import ExitStack

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import (
    collect_columns,
    persist,
    repartition_big_design,
    small_design_limit,
)

_SQRT2 = math.sqrt(2.0)
_SQRT2PI = math.sqrt(2.0 * math.pi)


def heckman(df: DataFrame, outcome_formula: str, selection_formula: str,
            max_iter: int = 25, tol: float = 1e-8) -> pd.DataFrame:
    """Fit ``heckman(df, 'wage ~ edu + exper', 'works ~ edu + kids')``.

    The selection LHS must be 0/1 and observed for every row; outcome
    rows where selection = 0 are excluded from step 2 (their y may be
    NULL).  For identification, give Z at least one variable excluded
    from X (the classic exclusion restriction) — not enforced, noted.

    Returns one row per parameter: the outcome coefficients, ``lambda``
    (the inverse-Mills coefficient β_λ = ρσ, whose z-test is the
    selection-bias test), with coef/stderr/z/p_value.  attrs: rho, sigma,
    n_total, n_selected, plus the step-1 probit frame under
    ``attrs['selection_model']``.
    """
    from fast_causal_inference_spark.functions import erf
    from fast_causal_inference_spark.operators.glm import glm
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, x_feats = parse_r_formula(outcome_formula)
    s_expr, z_feats = parse_r_formula(selection_formula)

    # nuisance probit: only beta feeds the Mills ratio and only the
    # Fisher inverse (recomputed exactly at the final beta below) enters
    # the step-2 covariance — skip its deviance scans
    probit = glm(df, selection_formula, family="binomial", link="probit",
                 max_iter=max_iter, tol=tol, compute_stats=False)
    gamma = probit.beta
    kz = len(z_feats) + 1

    zg: Column = F.lit(float(gamma[0]))
    for g, e in zip(gamma[1:], z_feats):
        zg = zg + F.lit(float(g)) * F.expr(e).cast("double")
    phi = F.exp(-zg * zg / 2.0) / F.lit(_SQRT2PI)
    Phi = F.greatest(0.5 * (1.0 + erf(zg / F.lit(_SQRT2))), F.lit(1e-12))
    # asymptotic tail for strongly negative indices: the 1e-12 floor on
    # Phi would otherwise COLLAPSE the inverse Mills ratio toward 0
    # (phi(-8)/1e-12 ~ 0.005 against the true lambda(-8) ~ 8.12) for
    # exactly the rows where the selection correction matters most.
    # lambda(z) -> -z / (1 - 1/z^2 + 3/z^4) as z -> -inf (Mills ratio
    # expansion; agrees with the exact value to ~4 digits at z = -6).
    lam_tail = -zg / (1.0 - 1.0 / (zg * zg)
                      + 3.0 / (zg * zg * zg * zg))
    lam = F.when(zg < -6.0, lam_tail).otherwise(phi / Phi)
    delta = lam * (lam + zg)

    s = F.expr(s_expr).cast("double")
    y = F.expr(y_expr).cast("double")
    # complete-case over BOTH feature sets: each F.sum in the Gramian
    # scans skips its own NULL rows independently, so a NULL feature
    # value would put the moment matrix on inconsistent row sets
    # (glm.py documents and filters the same hazard; lambda depends on
    # the z features, so NULL z knocks out only the lambda terms)
    cc = (s == 1) & y.isNotNull()
    for e in x_feats + z_feats:
        cc = cc & F.expr(e).cast("double").isNotNull()
    sel = df.where(cc)
    ws = [F.lit(1.0)] + [F.expr(e).cast("double") for e in x_feats] + [lam]
    zs = [F.lit(1.0)] + [F.expr(e).cast("double") for e in z_feats]
    pw = len(ws)
    kzz = len(zs)
    # project the per-row quantities ONCE (the inverse-Mills λ and δ
    # chains contain erf; inlined into the O(p²) agg expressions below
    # they would be re-evaluated per term) and persist: scans 1-2 both
    # read this narrow relation
    with ExitStack() as scope:
        # the leading intercepts of W and Z are constants — keep them as
        # lit(1.0) rebased expressions instead of materializing 16 wasted
        # bytes per cached row (persist_design's rule in design.py)
        selw = persist(scope, sel.select(
            *[w.alias(f"__w{i}__") for i, w in enumerate(ws[1:], start=1)],
            *[z.alias(f"__z{j}__") for j, z in enumerate(zs[1:], start=1)],
            delta.alias("__d__"), y.alias("__y__")),
            StorageLevel.MEMORY_AND_DISK)
        ws = [F.lit(1.0)] + [F.col(f"__w{i}__") for i in range(1, pw)]
        zs = [F.lit(1.0)] + [F.col(f"__z{j}__") for j in range(1, kzz)]
        delta = F.col("__d__")
        y = F.col("__y__")
        sel = selw

        # small-input fast path (round 11, design.py cutoff): the selected
        # design already carries the erf-chain λ/δ as materialized columns,
        # so ONE bounded collect evaluates the Arrow erf once and scans 1-2
        # become numpy Gramians
        des = None
        # count-gate (see design.collect_small_design): counting prunes the
        # erf-chain columns and materializes the persisted design either way
        _nsel = int(selw.count())
        if _nsel > small_design_limit(pw + kzz + 2):
            selw = repartition_big_design(scope, selw, _nsel)
            sel = selw
        else:
            _pdf = collect_columns(selw)
            ones = np.ones(_nsel)
            des = (np.column_stack(
                       [ones] + [_pdf[f"__w{i}__"]
                                 for i in range(1, pw)]),
                   np.column_stack(
                       [ones] + [_pdf[f"__z{j}__"]
                                 for j in range(1, kzz)]),
                   _pdf["__d__"],
                   _pdf["__y__"])
            del _pdf

        if des is not None:
            Wm, Zm, dv, yv = des
            n1 = float(len(yv))
            if n1 <= pw:
                raise ValueError(f"only {int(n1)} selected rows for {pw} "
                                 f"step-2 parameters")
            WtW = Wm.T @ Wm
            Wty = Wm.T @ yv
            beta = np.linalg.solve(WtW, Wty)
            b_lam = float(beta[-1])
            e_v = yv - Wm @ beta
            sse = float(e_v @ e_v)
            sd = float(dv.sum())
            Wd = Wm * dv[:, None]
            WdW = Wd.T @ Wm
            WdZ = Wd.T @ Zm
            sigma2 = sse / n1 + b_lam * b_lam * sd / n1
            rho2 = min(b_lam * b_lam / sigma2, 1.0) if sigma2 > 0 else 0.0
        else:
            # scan 1: step-2 Gramian [W'W | W'y]
            aggs = []
            for i in range(pw):
                aggs.append(F.sum(ws[i] * y).alias(f"b{i}"))
                for j in range(i, pw):
                    aggs.append(F.sum(ws[i] * ws[j]).alias(f"a{i}_{j}"))
            aggs.append(F.count(y).alias("n1"))
            r = sel.agg(*aggs).collect()[0]
            n1 = float(r["n1"])
            if n1 <= pw:
                raise ValueError(f"only {int(n1)} selected rows for {pw} "
                                 f"step-2 parameters")
            WtW = np.empty((pw, pw))
            Wty = np.empty(pw)
            for i in range(pw):
                Wty[i] = r[f"b{i}"]
                for j in range(i, pw):
                    WtW[i, j] = WtW[j, i] = r[f"a{i}_{j}"]
            beta = np.linalg.solve(WtW, Wty)
            b_lam = float(beta[-1])

            # scan 2: correction moments off the fitted residual column
            yhat: Column = F.lit(0.0)
            for b, c in zip(beta, ws):
                yhat = yhat + F.lit(float(b)) * c
            e_col = y - yhat
            aggs = [F.sum(e_col * e_col).alias("sse"),
                    F.sum(delta).alias("sd")]
            for i in range(pw):
                for j in range(i, pw):
                    aggs.append(F.sum(delta * ws[i] * ws[j])
                                .alias(f"wdw{i}_{j}"))
                for j in range(kz):
                    aggs.append(F.sum(delta * ws[i] * zs[j])
                                .alias(f"wdz{i}_{j}"))
            r2 = sel.agg(*aggs).collect()[0]
            sigma2 = float(r2["sse"]) / n1 \
                + b_lam * b_lam * float(r2["sd"]) / n1
            rho2 = min(b_lam * b_lam / sigma2, 1.0) if sigma2 > 0 else 0.0
            WdW = np.empty((pw, pw))
            WdZ = np.empty((pw, kz))
            for i in range(pw):
                for j in range(i, pw):
                    WdW[i, j] = WdW[j, i] = r2[f"wdw{i}_{j}"]
                for j in range(kz):
                    WdZ[i, j] = r2[f"wdz{i}_{j}"]
    # probit covariance: glm keeps only stderr, so rebuild the full
    # Fisher inverse with one more tiny scan over the probit's own
    # complete cases (selection + all Z non-null); project w0 (erf
    # chain) and Z once per row before the O(k²) aggregate
    cc = s.isNotNull()
    zs_raw = [F.lit(1.0)] + [F.expr(e).cast("double") for e in z_feats]
    for e in z_feats:
        cc = cc & F.expr(e).cast("double").isNotNull()
    mu0 = Phi
    w0 = (phi * phi) / (mu0 * (1.0 - mu0) + F.lit(1e-10))
    stepf = df.where(cc).select(
        *[z.alias(f"__z{j}__") for j, z in enumerate(zs_raw)],
        w0.alias("__w0__"))
    _pf = None
    # count prunes the erf column
    if int(stepf.count()) <= small_design_limit(kz + 2):
        _pf = collect_columns(stepf)
        Zf_np = np.column_stack([_pf[f"__z{j}__"] for j in range(kz)])
        w0_np = _pf["__w0__"]
        Fz = (Zf_np * w0_np[:, None]).T @ Zf_np
    else:
        zf = [F.col(f"__z{j}__") for j in range(kz)]
        w0c = F.col("__w0__")
        ag = []
        for i in range(kz):
            for j in range(i, kz):
                ag.append(F.sum(w0c * zf[i] * zf[j]).alias(f"f{i}_{j}"))
        rf = stepf.agg(*ag).collect()[0]
        Fz = np.empty((kz, kz))
        for i in range(kz):
            for j in range(i, kz):
                Fz[i, j] = Fz[j, i] = rf[f"f{i}_{j}"]
    del _pf
    Vg = np.linalg.inv(Fz)

    WtW_inv = np.linalg.inv(WtW)
    mid = (WtW - rho2 * WdW) + rho2 * (WdZ @ Vg @ WdZ.T)
    cov = sigma2 * (WtW_inv @ mid @ WtW_inv)
    se = np.sqrt(np.maximum(np.diag(cov), 0.0))

    names = ["(Intercept)"] + list(x_feats) + ["lambda"]
    order = list(range(1, pw - 1)) + [0, pw - 1]
    est, ses = beta[order], se[order]
    names = [names[i] for i in order]
    with np.errstate(divide="ignore", invalid="ignore"):
        z = est / ses
    out = pd.DataFrame({
        "name": names, "coef": est, "stderr": ses, "z": z,
        "p_value": 2.0 * np.asarray(dist.norm_sf(np.abs(z)))})
    sigma = math.sqrt(max(sigma2, 0.0))
    out.attrs.update({
        "rho": b_lam / sigma if sigma > 0 else float("nan"),
        "sigma": sigma, "n_total": float(probit.n), "n_selected": n1,
        "selection_model": probit.coef_table()})
    return out
