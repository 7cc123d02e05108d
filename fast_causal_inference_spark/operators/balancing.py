"""Entropy balancing: exact moment-matching weights for observational ATT.

Hainmueller (Political Analysis 2012): reweight the CONTROL group so its
covariate moments exactly equal the treated group's, keeping the weights
as close to uniform as possible (maximum entropy).  The primal has one
constraint per moment; its convex dual is an unconstrained smooth
minimization over λ ∈ R^k:

    min_λ  log Σ_{i ∈ control} exp(λᵀ(cᵢ − c̄₁))

(c̄₁ = treated moment vector), with optimal weights
wᵢ ∝ exp(λᵀ(cᵢ − c̄₁)).  Balance is EXACT at the optimum — unlike
propensity weighting there is no model to mis-specify for the first k
moments.

Plan shape (100 TB honest): each Newton step on the dual is ONE
aggregation over control rows — Σeᵢ, Σeᵢcᵢ, Σeᵢcᵢcᵢᵀ with
eᵢ = exp(λᵀcᵢ) as a pure Column expression (k(k+1)/2 + k + 1 sums, the
same Gramian scan kernel as GLM/IRLS).  The treated moment target is
one prior scan.  Weights never materialize until the caller scores
them as a Column (``weight_column``), so nothing is collected.

The reference engine's causal toolbox (``statistics.py:1054-1217``)
stops at IPW; entropy balancing is the standard design-stage
alternative (exact balance, better variance) — a beyond-ref operator
in the matching/weighting family.
"""

from __future__ import annotations

from contextlib import ExitStack

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import (
    collect_small_design,
    persist,
)

__all__ = ["entropy_balancing", "EntropyBalance"]


class EntropyBalance:
    """Fitted entropy-balancing weights (dual coefficients)."""

    def __init__(self, lam: np.ndarray, center: np.ndarray,
                 features: list[str], T: str, treatment_value,
                 control_value, n_treated: float, n_control: float,
                 log_norm: float, converged: bool, iters: int):
        self.lam = lam
        self.center = center
        self.features = features
        self.T = T
        self.treatment_value = treatment_value
        self.control_value = control_value
        self.n_treated = n_treated
        self.n_control = n_control
        self.log_norm = log_norm
        self.converged = converged
        self.iters = iters

    def weight_column(self) -> Column:
        """Per-row weight: treated rows get 1, control rows get the
        entropy weight normalized to sum to n_treated (so both arms
        carry equal total mass).  Normalization stays on the log scale
        until the final exp — no overflow for extreme dual coefficients."""
        t = F.expr(self.T)
        z: Column = F.lit(float(self.log_norm))
        for lam_j, c_j, feat in zip(self.lam, self.center, self.features):
            z = z + F.lit(float(lam_j)) * (F.expr(feat).cast("double")
                                           - F.lit(float(c_j)))
        return (F.when(t == F.lit(self.treatment_value), F.lit(1.0))
                 .when(t == F.lit(self.control_value), F.exp(z))
                 .otherwise(F.lit(0.0)))

    def att(self, df: DataFrame, Y: str, alpha: float = 0.05
            ) -> pd.DataFrame:
        """Weighted ATT: mean(Y | treated) − Σw·Y/Σw over controls, with
        a weighted linearization SE (one scan)."""
        y = F.expr(Y).cast("double")
        # complete-case on the outcome: without it a NULL-Y treated row
        # counts in n1 but not in Σy (deflating mu1), and a NULL-Y
        # control row counts in Σw but not Σw·y — the silent-bias class
        # glm's own filter exists to prevent
        df = df.where(y.isNotNull())
        t = F.expr(self.T)
        w = self.weight_column()
        # row-set consistency: a NULL-outcome row must leave BOTH the
        # numerator and the denominator of its arm's mean (sum(is_t*y)
        # skips it but a bare sum(is_t) would still count it)
        defined = y.isNotNull()
        is_t = (defined
                & (t == F.lit(self.treatment_value))).cast("double")
        is_c = (defined
                & (t == F.lit(self.control_value))).cast("double")
        row = df.agg(
            F.sum(is_t * y).alias("sy1"), F.sum(is_t).alias("n1"),
            F.sum(is_c * w * y).alias("swy"), F.sum(is_c * w).alias("sw"),
            F.sum(is_t * y * y).alias("syy1"),
            F.sum(is_c * w * w * y * y).alias("swwyy"),
            F.sum(is_c * w * w * y).alias("swwy"),
            F.sum(is_c * w * w).alias("sww")).collect()[0]
        n1 = float(row["n1"] or 0.0)
        sw = float(row["sw"] or 0.0)
        if n1 <= 0 or row["sy1"] is None:
            raise ValueError(
                "att: no treated rows with a defined outcome")
        if sw <= 0 or row["swy"] is None:
            raise ValueError(
                "att: the control arm carries zero usable weight — "
                "all-NULL outcomes or weight features in the scored "
                "frame?")
        mu1 = float(row["sy1"]) / n1
        mu0 = float(row["swy"]) / sw
        att = mu1 - mu0
        var1 = (float(row["syy1"]) / n1 - mu1 ** 2) / n1
        # ratio-estimator linearization for the weighted control mean
        var0 = (float(row["swwyy"]) - 2 * mu0 * float(row["swwy"])
                + mu0 ** 2 * float(row["sww"])) / sw ** 2
        se = float(np.sqrt(max(var1 + var0, 0.0)))
        z = float(dist.norm_ppf(1 - alpha / 2))
        return pd.DataFrame([{
            "ATT": att, "stderr": se, "lower": att - z * se,
            "upper": att + z * se, "mu_treated": mu1,
            "mu_control_weighted": mu0, "n_treated": n1,
            "n_control": self.n_control,
            "ess_control": sw ** 2 / float(row["sww"])}])


def entropy_balancing(df: DataFrame, T: str, features: list[str],
                      treatment_value=1, control_value=0,
                      max_iter: int = 50, tol: float = 1e-10
                      ) -> EntropyBalance:
    """Solve the entropy-balancing dual by damped Newton.

    Balances the first moments of ``features`` (pass squared/interaction
    expressions for higher moments, e.g. ``"x*x"``).  Raises if the
    dual diverges — which happens exactly when the treated moment vector
    lies outside the convex hull of control moments (no feasible
    weights).
    """
    if not features:
        raise ValueError("entropy_balancing needs at least one feature")
    t = F.expr(T)
    xs = [F.expr(c).cast("double") for c in features]
    cc = t.isNotNull()
    for x in xs:
        cc = cc & x.isNotNull()
    work = df.where(cc)
    k = len(features)
    # target: treated moments (plus counts) — one scan over both arms
    is_t = (t == F.lit(treatment_value)).cast("double")
    is_c = (t == F.lit(control_value)).cast("double")
    aggs = [F.sum(is_t).alias("n1"), F.sum(is_c).alias("n0")]
    for j, x in enumerate(xs):
        aggs.append(F.sum(is_t * x).alias(f"m{j}"))
    row = work.agg(*aggs).collect()[0]
    n1, n0 = float(row["n1"] or 0.0), float(row["n0"] or 0.0)
    if n1 == 0 or n0 == 0:
        raise ValueError(f"entropy_balancing: empty arm (treated n={n1:.0f},"
                         f" control n={n0:.0f})")
    center = np.array([float(row[f"m{j}"]) / n1 for j in range(k)])
    with ExitStack() as scope:
        # persist the centered control design for the dual Newton loop
        # (design.py pattern): k doubles per control row, re-scanned once
        # per step + once per halving
        ctl = persist(scope, work.where(t == F.lit(control_value)).select(
            *[(x - F.lit(float(c))).alias(f"__c{j}__")
              for j, (x, c) in enumerate(zip(xs, center))]),
            StorageLevel.MEMORY_AND_DISK)
        cs = [F.col(f"__c{j}__") for j in range(k)]

        def _scan(lam: np.ndarray, shift: float):
            z: Column = F.lit(0.0)
            for lj, c in zip(lam, cs):
                z = z + F.lit(float(lj)) * c
            e = F.exp(z - F.lit(float(shift)))
            # project the exp weight once per row (inlining would expand
            # the exp(λ·c) chain into every one of the k(k+3)/2 agg
            # expressions)
            step = ctl.select(*cs, e.alias("__e__"))
            ec = F.col("__e__")
            aggs = [F.sum(ec).alias("s")]
            for i, ci in enumerate(cs):
                aggs.append(F.sum(ec * ci).alias(f"g{i}"))
                for j in range(i, k):
                    aggs.append(F.sum(ec * ci * cs[j]).alias(f"h{i}_{j}"))
            r = step.agg(*aggs).collect()[0]
            s = float(r["s"])
            g = np.array([float(r[f"g{i}"]) for i in range(k)])
            H = np.empty((k, k))
            for i in range(k):
                for j in range(i, k):
                    H[i, j] = H[j, i] = float(r[f"h{i}_{j}"])
            return s, g, H

        # small-input fast path (round 11, design.collect_small_design):
        # collect the centered control design once; the dual Newton scans
        # (and step-halving re-scans) run driver-side in numpy
        des, ctl = collect_small_design(scope, ctl, cs, F.lit(0.0),
                                        F.lit(0.0), n_rows=int(n0))

        def _scan_np(lam: np.ndarray, shift: float):
            C, _, _ = des
            with np.errstate(over="ignore", under="ignore"):
                e = np.exp(C @ lam - shift)
            s = float(e.sum())
            g = C.T @ e
            H = (C * e[:, None]).T @ C
            return s, g, H

        scan = _scan_np if des is not None else _scan

        lam = np.zeros(k)
        shift = 0.0               # running log-scale guard against overflow
        s, g, H = scan(lam, shift)
        obj = np.log(s) + shift       # log sum exp — the dual objective
        converged = False
        it = 0
        for it in range(1, max_iter + 1):
            grad = g / s              # ∇ logsumexp = weighted mean of c
            hess = H / s - np.outer(grad, grad)
            try:
                step = -np.linalg.solve(
                    hess + 1e-12 * np.eye(k) * max(1.0, np.trace(hess) / k),
                    grad)
            except np.linalg.LinAlgError:
                step = -np.linalg.lstsq(hess, grad, rcond=None)[0]
            if float(np.max(np.abs(grad))) < tol * max(
                    1.0, float(np.max(np.abs(center)))):
                converged = True
                break
            trial = lam + step
            shift2 = shift + float(step @ grad)       # keep exp() centered
            s2, g2, H2 = scan(trial, shift2)
            obj2 = np.log(s2) + shift2
            halvings = 0
            while not np.isfinite(obj2) or obj2 > obj + 1e-12 * abs(obj):
                if halvings >= 25:
                    raise ValueError(
                        "entropy_balancing did not converge: the treated "
                        "moment target likely lies outside the convex hull "
                        "of control moments (no feasible weights); drop or "
                        "coarsen features")
                step *= 0.5
                trial = lam + step
                shift2 = shift + float(step @ grad)
                s2, g2, H2 = scan(trial, shift2)
                obj2 = np.log(s2) + shift2
                halvings += 1
            lam, s, g, H, obj, shift = trial, s2, g2, H2, obj2, shift2
        if not converged:
            # an infeasible target makes the dual unbounded below: the
            # objective decreases forever while the gradient (the weighted
            # moment gap) never reaches zero
            gap = float(np.max(np.abs(g / s)))
            if gap > 1e-6 * max(1.0, float(np.max(np.abs(center)))):
                raise ValueError(
                    "entropy_balancing did not converge after "
                    f"{max_iter} iterations (moment gap {gap:.3g}): the "
                    "treated moment target likely lies outside the convex "
                    "hull of control moments (no feasible weights); drop or "
                    "coarsen features")
        # normalize: control weights sum to n_treated —
        # w_i = n1 * exp(lam.c_i) / Σexp(lam.c_j), kept on the log scale
        log_norm = float(np.log(n1) - np.log(s) - shift)
    return EntropyBalance(lam=lam, center=center, features=features, T=T,
                          treatment_value=treatment_value,
                          control_value=control_value, n_treated=n1,
                          n_control=n0, log_norm=log_norm,
                          converged=converged, iters=it)
