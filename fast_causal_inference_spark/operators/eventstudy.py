"""Staggered-adoption event study (two-way fixed-effects leads/lags).

Beyond the reference: the standard readout for STAGGERED rollouts — every
unit adopts at its own period (or never) and the estimand is the dynamic
effect path β_r around adoption,

    y_it = α_i + λ_t + Σ_r β_r · 1[t − a_i = r] + ε_it,

with r = −1 the omitted reference period and the endpoint dummies binned
(r ≤ −leads, r ≥ lags).  This is the TWFE event-study specification
(Angrist-Pischke §5; the Sun-Abraham/Callaway-Sant'Anna caveats about
heterogeneous-effect contamination apply as usual and are the user's
modeling call).

Spark shape — the unit/time fixed effects are ABSORBED, never
materialized as dummies: by Frisch-Waugh-Lovell, on a BALANCED panel the
TWFE estimate equals OLS on the two-way within transform
ẍ = x − x̄_i − x̄_t + x̄.  That is three aggregations (unit means — a
shuffle keyed on units; time means — broadcast; grand means — literals),
a join back, and ONE Gramian scan over the (leads+lags) demeaned dummy
columns, solved on the driver — the plan never grows with the number of
units, unlike a dummy-variable design matrix.  Unbalanced panels are
rejected (the one-shot within transform is only exact when balanced; the
alternating-projection generalization is out of scope and silently wrong
answers are worse than an error).

Standard errors: classical OLS on the demeaned data with the degrees of
freedom corrected for the absorbed effects
(df = n − k − (U − 1) − (T − 1) − 1); ``cluster=True`` switches to CR1
cluster-robust SEs BY UNIT on the same demeaned design — the panel
default for within-unit serial correlation.
"""

from __future__ import annotations

from contextlib import ExitStack

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import persist


def _dcol(r: int) -> str:
    return f"__dm{-r}" if r < 0 else f"__d{r}"


def event_study(df: DataFrame, Y: str, unit: str, time: str,
                adoption: str, leads: int = 4, lags: int = 4,
                cluster: bool = False,
                alpha: float = 0.05) -> pd.DataFrame:
    """Event-study coefficients β_r for r in [−leads, lags] \\ {−1}.

    ``adoption`` — expression giving each row's unit-level first treated
    period; NULL marks a never-treated unit (it contributes to the
    fixed effects and the comparison group, with all dummies 0).
    Endpoints are binned: the ``r = −leads`` dummy is 1 for all
    r ≤ −leads, the ``r = lags`` dummy for all r ≥ lags.

    Returns one row per r: rel_period, estimate, stderr, t_stat,
    p_value, lower, upper (reference period −1 included with zeros, for
    plotting).
    """
    if leads < 1 or lags < 0:
        raise ValueError("need leads >= 1 and lags >= 0")
    ucol = F.col(unit) if unit.isidentifier() else F.expr(unit)
    tcol = F.col(time) if time.isidentifier() else F.expr(time)
    acol = F.expr(adoption)
    y = F.expr(Y).cast("double")
    rel = (tcol.cast("long") - acol.cast("long"))
    rs = [r for r in range(-leads, lags + 1) if r != -1]
    work = df.where(ucol.isNotNull() & tcol.isNotNull() & y.isNotNull()) \
             .select(ucol.alias("__u"), tcol.alias("__t"),
                     y.alias("__y"), rel.alias("__r"))
    dummies = {}
    for r in rs:
        if r == -leads:
            cond = F.col("__r") <= r
        elif r == lags:
            cond = F.col("__r") >= r
        else:
            cond = F.col("__r") == r
        # never-treated rows (NULL adoption → NULL __r) get 0, not NULL
        # ("m" spells the minus sign: "__d-3" would parse as subtraction
        # in the R-formula grammar downstream)
        dummies[_dcol(r)] = F.coalesce(cond.cast("double"), F.lit(0.0))
    # persist the projected panel: the balance check, the time means,
    # and the within-transform Gramian are three separate actions, and
    # without the cache each would re-run the caller's full upstream
    # lineage (often an expensive collapse of the raw event log)
    with ExitStack() as scope:
        work = persist(scope, work.withColumns(dummies),
                       StorageLevel.MEMORY_AND_DISK)
        cols = ["__y"] + [_dcol(r) for r in rs]

        # balanced-panel check at CELL grain: equal per-unit and per-time
        # totals are NOT sufficient (a Latin-square-style panel passes both
        # while missing cells entirely) — require every (unit, period) cell
        # present with the same row count
        cell = (work.groupBy("__u", "__t")
                .agg(F.count(F.lit(1)).alias("__nc"))
                .agg(F.count(F.lit(1)).alias("n_cells"),
                     F.countDistinct("__nc").alias("k_shapes"),
                     F.countDistinct("__u").alias("n_units"),
                     F.countDistinct("__t").alias("n_periods")).collect()[0])
        n_units = int(cell["n_units"])
        n_periods = int(cell["n_periods"])
        if int(cell["k_shapes"]) != 1 or \
                int(cell["n_cells"]) != n_units * n_periods:
            raise ValueError(
                "unbalanced panel: the one-shot two-way within transform is "
                "only exact when every unit is observed in every period "
                "with equal cell counts; balance the panel first")
        umeans = (work.groupBy("__u")
                  .agg(*[F.avg(c).alias(f"{c}_mu") for c in cols]))
        tmeans = (work.groupBy("__t")
                  .agg(*[F.avg(c).alias(f"{c}_mt") for c in cols]))
        t_rows = tmeans.collect()
        grand = {c: float(np.mean([r[f"{c}_mt"] for r in t_rows]))
                 for c in cols}

        joined = (work.join(umeans.select(
            "__u", *[F.col(f"{c}_mu") for c in cols]), "__u")
            .join(F.broadcast(tmeans.select(
                "__t", *[F.col(f"{c}_mt") for c in cols])), "__t"))
        dem = {f"{c}_w": (F.col(c) - F.col(f"{c}_mu") - F.col(f"{c}_mt")
                          + F.lit(grand[c])) for c in cols}
        joined = joined.withColumns(dem)

        feats = [f"{_dcol(r)}_w" for r in rs]
        formula = "__y_w ~ " + " + ".join(feats)
        k = len(feats)
        # absorbed-FE df correction: (U-1) + (T-1) + 1 parameters vanished
        # into the within transform
        df_absorbed = (n_units - 1) + (n_periods - 1) + 1
        if cluster:                       # CR1 clustered by UNIT (the panel
            # default — within-unit serial correlation)
            from fast_causal_inference_spark.operators.ols import (
                cluster_robust_ols,
            )

            m = cluster_robust_ols(joined, formula, cluster="__u",
                                   use_bias=False)
            beta, se = m.beta, m.stderr           # CR1 SEs, df = G − 1
            dof = max(int(m.df_override or 1), 1)
        else:
            from fast_causal_inference_spark.operators.ols import ols

            m = ols(joined, formula, use_bias=False)
            beta = m.beta
            n = m.n
            dof = max(n - k - df_absorbed, 1)
            # rescale the classical SEs from ols()'s (n - k) denominator to
            # the absorbed-FE degrees of freedom
            se = m.stderr * np.sqrt((n - k) / dof)
    rows = []
    zq = float(dist.t_ppf(1 - alpha / 2, dof))
    for i, r in enumerate(rs):
        b, s = float(beta[i]), float(se[i])
        t = b / s if s > 0 else float("nan")
        rows.append({"rel_period": r, "estimate": b, "stderr": s,
                     "t_stat": t,
                     "p_value": float(2 * dist.t_sf(abs(t), dof)),
                     "lower": b - zq * s, "upper": b + zq * s})
    rows.append({"rel_period": -1, "estimate": 0.0, "stderr": 0.0,
                 "t_stat": float("nan"), "p_value": float("nan"),
                 "lower": 0.0, "upper": 0.0})
    return pd.DataFrame(rows).sort_values("rel_period") \
        .reset_index(drop=True)
