"""Ordered logistic regression (proportional odds) by distributed Newton.

Beyond the reference (its ``regression.py`` stops at OLS/logistic): the
standard model for ordinal outcomes — satisfaction grades, severity
tiers, star ratings — P(y ≤ j | x) = σ(α_j − xβ) with ordered cutpoints
α₁ < … < α_{J−1} and one shared β (the proportional-odds assumption).

Scale design: like every solver in this package, each Newton iteration
is ONE aggregation.  With η = xβ and a row's bracketing cutpoints
(A, B) = (α_j − η, α_{j−1} − η), all five per-row curvature scalars
(ℓ_A, ℓ_B, ℓ_AA, ℓ_BB, ℓ_AB) are pure Column expressions under a
CASE WHEN on the category index, so the gradient/Hessian reduce to
(J−1)·(k+2) + k(k+1)/2 + J sums — map-side combined, independent of row
count.  The J distinct categories are collected once (bounded ≤ 50).
"""

from __future__ import annotations

import math
from contextlib import ExitStack

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import (
    persist,
    repartition_big_design,
    small_design_limit,
)

_MAX_CATEGORIES = 50


def ordered_logit(df: DataFrame, formula: str, max_iter: int = 50,
                  tol: float = 1e-9) -> pd.DataFrame:
    """Fit ``'grade ~ x1 + x2'`` where the outcome is ordinal (any
    orderable type; its sorted distinct values define the J categories).

    Returns a pandas frame with one row per parameter: the k slopes
    (name, coef, odds_ratio, stderr, z, p_value) followed by the J−1
    cutpoints (``cut_<lo>|<hi>``).  Model stats ride in ``frame.attrs``
    (loglik, n, n_iter, converged, categories).  ``exp(coef)`` is the
    cumulative odds ratio of landing in a HIGHER category per unit x.
    """
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, feats = parse_r_formula(formula)
    k = len(feats)
    if k == 0:
        raise ValueError("ordered_logit needs at least one feature")
    ycol = F.expr(y_expr)
    xs = [F.expr(e).cast("double").alias(f"__x{i}") for i, e in
          enumerate(feats)]
    with ExitStack() as scope:
        sub = persist(scope, df.select(ycol.alias("__y"), *xs).na.drop())

        counts = (sub.groupBy("__y").agg(F.count(F.lit(1)).alias("c"))
                  .orderBy("__y").collect())
        if len(counts) < 2:
            raise ValueError(
                "outcome must have at least 2 distinct categories")
        if len(counts) > _MAX_CATEGORIES:
            raise ValueError(
                f"{len(counts)} categories exceed the {_MAX_CATEGORIES} cap — "
                f"an outcome this granular is a regression problem, not an "
                f"ordinal one (or bucket it first)")
        cats = [r["__y"] for r in counts]
        ns = np.array([float(r["c"]) for r in counts])
        n = float(ns.sum())
        J = len(cats)
        # category index column 0..J−1 (joins are overkill for ≤50 WHENs)
        idx: Column = F.lit(J - 1)
        for j in range(J - 2, -1, -1):
            idx = F.when(F.col("__y") == F.lit(cats[j]), F.lit(j)) \
                .otherwise(idx)

        # init: β = 0, α_j = logit of the cumulative shares
        cum = ns.cumsum() / n
        theta = np.concatenate([
            np.array([math.log(c / (1 - c)) for c in cum[:-1]]),
            np.zeros(k)])

        def _scan(th: np.ndarray):
            alpha, beta = th[:J - 1], th[J - 1:]
            eta: Column = F.lit(0.0)
            for i in range(k):
                eta = eta + F.lit(float(beta[i])) * F.col(f"__x{i}")
            # bracketing cutpoints by category; ±∞ ends get σ=1/0, f=0
            up = F.lit(None).cast("double")
            lo = F.lit(None).cast("double")
            for j in range(J):
                if j < J - 1:
                    up = F.when(idx == j, F.lit(float(alpha[j]))).otherwise(up)
                if j > 0:
                    lo = F.when(idx == j,
                                F.lit(float(alpha[j - 1]))).otherwise(lo)
            A = up - eta                          # NULL when y = top category
            B = lo - eta                          # NULL when y = bottom
            sA = F.coalesce(1.0 / (1.0 + F.exp(-A)), F.lit(1.0))
            sB = F.coalesce(1.0 / (1.0 + F.exp(-B)), F.lit(0.0))
            fA = F.coalesce(sA * (1.0 - sA), F.lit(0.0))
            fB = F.coalesce(sB * (1.0 - sB), F.lit(0.0))
            fpA = F.coalesce(fA * (1.0 - 2.0 * sA), F.lit(0.0))
            fpB = F.coalesce(fB * (1.0 - 2.0 * sB), F.lit(0.0))
            P = sA - sB + F.lit(1e-300)
            lA = fA / P
            lB = -fB / P
            lAA = fpA / P - lA * lA
            lBB = -fpB / P - lB * lB
            lAB = fA * fB / (P * P)
            # Spark's log(x <= 0) is NULL, and SUM skips NULLs: a Newton
            # overshoot that inverts two cutpoints makes P < 0 on the rows
            # between them, whose NULL log-terms would silently DROP from
            # the sum — an ll over fewer rows compares favorably and the
            # line search ACCEPTS the bad step.  Map the invalid region to
            # -inf so the ascent check rejects it and step-halving engages.
            ag = [F.sum(F.when(P > 0, F.log(P))
                        .otherwise(F.lit(float("-inf")))).alias("ll")]
            for m in range(J - 1):
                u = (idx == m).cast("double")     # row's upper cut is α_m
                w = (idx == m + 1).cast("double")  # row's lower cut is α_m
                ag.append(F.sum(u * lA + w * lB).alias(f"ga{m}"))
                ag.append(F.sum(u * lAA + w * lBB).alias(f"haa{m}"))
                if m < J - 2:
                    # only rows in category m+1 touch both α_m (lower) and
                    # α_{m+1} (upper)
                    ag.append(F.sum(w * lAB).alias(f"hab{m}"))
                for i in range(k):
                    ag.append(F.sum(-F.col(f"__x{i}")
                                    * (u * (lAA + lAB) + w * (lAB + lBB)))
                              .alias(f"hab{m}_{i}"))
            curv = lAA + 2.0 * lAB + lBB
            for i in range(k):
                ag.append(F.sum(-F.col(f"__x{i}") * (lA + lB)).alias(f"gb{i}"))
                for j2 in range(i, k):
                    ag.append(F.sum(F.col(f"__x{i}") * F.col(f"__x{j2}")
                                    * curv).alias(f"hbb{i}_{j2}"))
            r = sub.agg(*ag).collect()[0]
            p_tot = J - 1 + k
            g = np.zeros(p_tot)
            H = np.zeros((p_tot, p_tot))
            for m in range(J - 1):
                g[m] = float(r[f"ga{m}"])
                H[m, m] = float(r[f"haa{m}"])
                if m < J - 2:
                    H[m, m + 1] = H[m + 1, m] = float(r[f"hab{m}"])
                for i in range(k):
                    H[m, J - 1 + i] = H[J - 1 + i, m] = float(r[f"hab{m}_{i}"])
            for i in range(k):
                g[J - 1 + i] = float(r[f"gb{i}"])
                for j2 in range(i, k):
                    H[J - 1 + i, J - 1 + j2] = H[J - 1 + j2, J - 1 + i] = \
                        float(r[f"hbb{i}_{j2}"])
            return float(r["ll"]), g, H

        # small-input fast path (round 11, design.small_design_limit):
        # collect (category index, X) ONCE and run every Newton scan —
        # including the step-halving re-scans — driver-side in numpy.
        # Identical per-row algebra to _scan; the distributed scan remains
        # the above-cutoff (100 TB) path.
        des = None
        if n <= small_design_limit(k + 1):   # n known from the counts scan
            _pdf = sub.select(idx.alias("__i"),
                              *[F.col(f"__x{i}") for i in range(k)]) \
                .toPandas()
            des = (_pdf["__i"].to_numpy(dtype=np.int64),
                   np.column_stack([_pdf[f"__x{i}"].to_numpy(dtype=float)
                                    for i in range(k)]))
            del _pdf
        else:
            sub = repartition_big_design(scope, sub, int(n))

        def _scan_np(th: np.ndarray):
            iv, Xv = des
            alpha, beta = th[:J - 1], th[J - 1:]
            with np.errstate(over="ignore", under="ignore"):
                eta_v = Xv @ beta
                top = iv == J - 1
                bot = iv == 0
                A_v = np.where(top, np.inf,
                               np.take(np.append(alpha, 0.0), iv) - eta_v)
                B_v = np.where(
                    bot, -np.inf,
                    np.take(np.append(alpha, 0.0),
                            np.maximum(iv - 1, 0)) - eta_v)
                sA = np.where(top, 1.0, 1.0 / (1.0 + np.exp(-A_v)))
                sB = np.where(bot, 0.0, 1.0 / (1.0 + np.exp(-B_v)))
            fA = np.where(top, 0.0, sA * (1.0 - sA))
            fB = np.where(bot, 0.0, sB * (1.0 - sB))
            fpA = np.where(top, 0.0, fA * (1.0 - 2.0 * sA))
            fpB = np.where(bot, 0.0, fB * (1.0 - 2.0 * sB))
            P = sA - sB + 1e-300
            lA = fA / P
            lB = -fB / P
            lAA = fpA / P - lA * lA
            lBB = -fpB / P - lB * lB
            lAB = fA * fB / (P * P)
            if np.all(P > 0):
                ll = float(np.log(P).sum())
            else:                                # inverted cutpoints: reject
                ll = float("-inf")
            # one-hot masks: column m of U flags rows whose UPPER cut is
            # α_m (category m); of W, rows whose LOWER cut is α_m (cat m+1)
            U = np.zeros((len(iv), J - 1))
            W = np.zeros((len(iv), J - 1))
            U[np.arange(len(iv))[iv < J - 1], iv[iv < J - 1]] = 1.0
            W[np.arange(len(iv))[iv > 0], iv[iv > 0] - 1] = 1.0
            p_tot = J - 1 + k
            g = np.zeros(p_tot)
            H = np.zeros((p_tot, p_tot))
            g[:J - 1] = U.T @ lA + W.T @ lB
            np.fill_diagonal(H[:J - 1, :J - 1], U.T @ lAA + W.T @ lBB)
            off_diag = W.T @ lAB                  # α_m–α_{m+1} coupling:
            for m in range(J - 2):                # rows in category m+1
                H[m, m + 1] = H[m + 1, m] = off_diag[m]
            hab = -(U.T @ (Xv * (lAA + lAB)[:, None])
                    + W.T @ (Xv * (lAB + lBB)[:, None]))
            H[:J - 1, J - 1:] = hab
            H[J - 1:, :J - 1] = hab.T
            g[J - 1:] = -Xv.T @ (lA + lB)
            curv = lAA + 2.0 * lAB + lBB
            H[J - 1:, J - 1:] = Xv.T @ (Xv * curv[:, None])
            return ll, g, H

        scan = _scan_np if des is not None else _scan
        ll, g, H = scan(theta)
        converged = False
        it = 0
        for it in range(1, max_iter + 1):
            try:
                step = np.linalg.solve(H, g)
            except np.linalg.LinAlgError:
                step = np.linalg.pinv(H) @ g
            new = theta - step
            ll_new, g_new, H_new = scan(new)
            halves = 0
            while (not np.isfinite(ll_new) or ll_new < ll - 1e-12) \
                    and halves < 20:
                step = step / 2.0
                new = theta - step
                ll_new, g_new, H_new = scan(new)
                halves += 1
            done = float(np.max(np.abs(new - theta))) < tol \
                or abs(ll_new - ll) < tol
            theta, ll, g, H = new, ll_new, g_new, H_new
            if done:
                converged = True
                break
    if np.any(np.diff(theta[:J - 1]) <= 0):
        raise ValueError(
            "cutpoints came out non-monotone — the proportional-odds "
            "surface is degenerate on this data (separation or an empty "
            "interior category); inspect the category counts")

    cov = np.linalg.pinv(-H)
    se = np.sqrt(np.maximum(np.diag(cov), 0.0))
    names = [f"cut_{cats[j]}|{cats[j + 1]}" for j in range(J - 1)] \
        + list(feats)
    order = list(range(J - 1, J - 1 + k)) + list(range(J - 1))
    est = theta[order]
    se = se[order]
    names = [names[i] for i in order]
    with np.errstate(divide="ignore", invalid="ignore"):
        z = est / se
    out = pd.DataFrame({
        "name": names, "coef": est, "odds_ratio": np.exp(est),
        "stderr": se, "z": z,
        "p_value": 2.0 * np.asarray(dist.norm_sf(np.abs(z)))})
    out.attrs.update({"loglik": ll, "n": n, "n_iter": it,
                      "converged": converged, "categories": cats})
    return out
