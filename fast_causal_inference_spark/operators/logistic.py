"""Logistic regression by IRLS over Gramian aggregations, + distributed AUC.

Parity target: reference ``regression.py:45-255`` (``Logistic(tol, iter)`` —
each IRLS iteration is ONE engine aggregation of a weighted Gramian, solved on
the driver) and the CH ``stochasticLogisticRegression`` /
``stochasticLinearRegression`` facades (``regression.py:553-764``) — the
engine UDAF runs mini-batch SGD per data block and AVERAGES states on
merge, which maps 1:1 onto per-partition SGD + weighted model averaging
(implemented in ``_sgd_fit`` below; methods SGD/Momentum/Nesterov/Lasso,
reference defaults learning_rate=1e-5, l1=0.1, batch_size=15).

Each iteration shuffles O(k²) doubles; row-scale work stays in codegen.
"""

from __future__ import annotations

import math
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark.operators.design import (
    fisher_scoring,
    irls_design,
)
from fast_causal_inference_spark.operators.glm import irls_family


@dataclass
class LogisticModel:
    feature_exprs: list[str]
    use_bias: bool
    beta: np.ndarray
    stderr: np.ndarray
    n: float
    n_iter: int
    converged: bool
    y_expr: str | None = None    # outcome expression, for complete-case
    names: list[str] = field(default_factory=list)  # replication downstream

    def __post_init__(self):
        if not self.names:
            self.names = ((["(Intercept)"] if self.use_bias else [])
                          + list(self.feature_exprs))

    def logit_column(self) -> Column:
        out: Column = F.lit(float(self.beta[0])) if self.use_bias else F.lit(0.0)
        coefs = self.beta[1:] if self.use_bias else self.beta
        for b, e in zip(coefs, self.feature_exprs):
            out = out + float(b) * F.expr(e).cast("double")
        return out

    def predict_proba_column(self) -> Column:
        z = self.logit_column()
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

    def predict(self, df: DataFrame, alias: str = "probability") -> DataFrame:
        return df.withColumn(alias, self.predict_proba_column())

    @property
    def z_values(self) -> np.ndarray:
        with np.errstate(divide="ignore", invalid="ignore"):
            return self.beta / self.stderr

    @property
    def p_values(self) -> np.ndarray:
        from fast_causal_inference_spark import stats_distributions as dist

        return 2.0 * dist.norm_sf(np.abs(self.z_values))

    def coef_table(self):
        import pandas as pd

        return pd.DataFrame({"name": self.names, "estimate": self.beta,
                             "stderr": self.stderr, "z_value": self.z_values,
                             "p_value": self.p_values})


def logistic_regression(df: DataFrame, formula: str, use_bias: bool = True,
                        max_iter: int = 25, tol: float = 1e-8,
                        use_mllib: bool = False) -> LogisticModel:
    """Fit ``'y ~ x1 + x2'`` (y ∈ {0,1}) by IRLS driver loop.

    Rows with a NULL outcome or feature are dropped first (complete
    cases, as in ``glm``).  Each iteration of the shared Fisher-scoring
    loop (``design.fisher_scoring``) is one aggregation of Σ s·xxᵀ and
    Σ s·x·z (z = working response) → driver solve, with the canonical
    logit (w, z) of ``glm.irls_family('binomial')``.  Standard errors
    come from the final weighted Gramian inverse.
    """
    from fast_causal_inference_spark.operators.ols import parse_r_formula

    y_expr, feats = parse_r_formula(formula)
    if use_mllib:
        return _mllib_logistic(df, y_expr, feats, use_bias, max_iter, tol)
    p = len(feats) + (1 if use_bias else 0)
    with ExitStack() as scope:
        d = irls_design(scope, df, y_expr, feats, use_bias=use_bias)
        beta, A, n, it, converged = fisher_scoring(
            d, np.zeros(p), *irls_family("binomial"), max_iter, tol)
    # SE from inv of final Fisher information (= weighted Gramian A)
    stderr = np.sqrt(np.maximum(np.diag(np.linalg.inv(A)), 0.0))
    return LogisticModel(feature_exprs=feats, use_bias=use_bias, beta=beta, y_expr=y_expr,
                         stderr=stderr, n=n, n_iter=it, converged=converged)


def _mllib_logistic(df, y_expr, feats, use_bias, max_iter, tol) -> LogisticModel:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    prepared = df.select(F.expr(y_expr).cast("double").alias("__label"),
                         *[F.expr(e).cast("double").alias(f"__f{i}")
                           for i, e in enumerate(feats)])
    va = VectorAssembler(inputCols=[f"__f{i}" for i in range(len(feats))],
                         outputCol="__features")
    lr = LogisticRegression(featuresCol="__features", labelCol="__label",
                            maxIter=max_iter, tol=tol, fitIntercept=use_bias,
                            regParam=0.0)
    m = lr.fit(va.transform(prepared))
    beta = np.array(([m.intercept] if use_bias else []) +
                    list(m.coefficients.toArray()))
    return LogisticModel(feature_exprs=feats, use_bias=use_bias, beta=beta, y_expr=y_expr,
                         stderr=np.full(len(beta), np.nan),
                         n=float(prepared.count()),
                         n_iter=m.summary.totalIterations, converged=True)


def auc(df: DataFrame, score: str, label: str) -> float:
    """Distributed ROC-AUC via the rank formula (one Mann-Whitney pass):
    AUC = (R₁ − n₁(n₁+1)/2) / (n₀·n₁) with average ranks on score ties."""
    from fast_causal_inference_spark.operators.mann_whitney import (
        mann_whitney_utest,
    )

    res = mann_whitney_utest(df, score, label, continuity_correction=False)
    r = res.iloc[0]
    return float(r.u1 / (r.n0 * r.n1))


# stochastic SGD family — reference stochasticLinear/LogisticRegression ----


@dataclass
class SGDModel:
    """Model-averaged mini-batch SGD fit (linear or logistic link)."""

    kind: str                      # 'linear' | 'logistic'
    feature_exprs: list[str]
    beta: np.ndarray               # [bias, w_1..w_k]
    n: float
    n_partitions: int

    def linear_column(self) -> Column:
        out: Column = F.lit(float(self.beta[0]))
        for b, e in zip(self.beta[1:], self.feature_exprs):
            out = out + float(b) * F.expr(e).cast("double")
        return out

    def predict_column(self) -> Column:
        z = self.linear_column()
        if self.kind == "logistic":
            return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return z

    def predict(self, df: DataFrame, alias: str = "prediction") -> DataFrame:
        return df.withColumn(alias, self.predict_column())

    def effect(self, df: DataFrame, alias: str = "effect") -> DataFrame:
        return self.predict(df, alias)


def _sgd_fit(df: DataFrame, formula: str, kind: str,
             learning_rate: float, l1: float, l2: float,
             batch_size: int, method: str, epochs: int,
             seed: int, standardize: bool = False) -> SGDModel:
    """Per-partition mini-batch SGD + weighted model averaging — the Spark
    restatement of the reference UDAF's block-SGD + merge-average
    (ClickHouse stochastic*Regression semantics).

    One data scan per epoch set (epochs run INSIDE the partition pass);
    shuffle payload is (k+2) doubles per partition.
    """
    from fast_causal_inference_spark.operators.ols import parse_r_formula
    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )

    import pandas as pd

    y_expr, feats = parse_r_formula(formula)
    k = len(feats)
    cols = [F.expr(y_expr).cast("double").alias("__y")] + \
        [F.expr(e).cast("double").alias(f"__x{i}") for i, e in enumerate(feats)]
    sub = df.select(*cols).na.drop()
    mu = np.zeros(k)
    sd = np.ones(k)
    mu_y, sd_y = 0.0, 1.0
    if standardize:
        stats = sub.agg(*([F.avg("__y"), F.stddev_samp("__y")]
                          + [f for i in range(k)
                             for f in (F.avg(f"__x{i}"),
                                       F.stddev_samp(f"__x{i}"))])).collect()[0]
        mu_y = float(stats[0])
        sd_y = float(stats[1]) or 1.0
        for i in range(k):
            mu[i] = float(stats[2 + 2 * i])
            sd[i] = float(stats[3 + 2 * i]) or 1.0
        zc = [(((F.col("__y") - mu_y) / sd_y) if kind == "linear"
               else F.col("__y")).alias("__y")]
        zc += [((F.col(f"__x{i}") - float(mu[i])) / float(sd[i]))
               .alias(f"__x{i}") for i in range(k)]
        sub = sub.select(*zc)
    method_l = method.lower()
    if method_l not in ("sgd", "momentum", "nesterov", "lasso", "adam"):
        raise ValueError(f"unknown method {method!r}")

    schema = "n double, " + ", ".join(f"w{i} double" for i in range(k + 1))

    def _part(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks)
        y = pdf["__y"].to_numpy(dtype=float)
        X = np.column_stack([np.ones(len(pdf))] +
                            [pdf[f"__x{i}"].to_numpy(dtype=float)
                             for i in range(k)])
        m = len(y)
        rng = np.random.default_rng([seed, pid])
        w = np.zeros(k + 1)
        v = np.zeros(k + 1)
        ada_m = np.zeros(k + 1)
        ada_v = np.zeros(k + 1)
        t = 0
        for _ in range(epochs):
            order = rng.permutation(m)
            for s0 in range(0, m, batch_size):
                idx = order[s0:s0 + batch_size]
                Xb, yb = X[idx], y[idx]
                if method_l == "nesterov":
                    w_eval = w + 0.9 * v
                else:
                    w_eval = w
                z = Xb @ w_eval
                if kind == "logistic":
                    p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
                    err = p - yb
                else:
                    err = z - yb
                g = Xb.T @ err / len(idx) + l2 * w_eval
                t += 1
                if method_l in ("momentum", "nesterov"):
                    v = 0.9 * v - learning_rate * g
                    w = w + v
                elif method_l == "adam":
                    ada_m = 0.9 * ada_m + 0.1 * g
                    ada_v = 0.999 * ada_v + 0.001 * g * g
                    mh = ada_m / (1 - 0.9 ** t)
                    vh = ada_v / (1 - 0.999 ** t)
                    w = w - learning_rate * mh / (np.sqrt(vh) + 1e-8)
                else:
                    w = w - learning_rate * g
                if l1 > 0.0 or method_l == "lasso":
                    # proximal soft-threshold (bias exempt)
                    thr = learning_rate * l1
                    w[1:] = np.sign(w[1:]) * np.maximum(
                        np.abs(w[1:]) - thr, 0.0)
        out = {"n": [float(m)]}
        for i in range(k + 1):
            out[f"w{i}"] = [float(w[i])]
        yield pd.DataFrame(out)

    ensure_udf_serializable()
    rows = sub.mapInPandas(_part, schema).collect()
    if not rows:
        raise ValueError("empty input")
    def _f(v):
        return float(v) if v is not None else float("nan")

    ns = np.array([_f(r["n"]) for r in rows])
    W = np.array([[_f(r[f"w{i}"]) for i in range(k + 1)] for r in rows])
    ok = np.isfinite(W).all(axis=1)
    if not ok.any():
        raise ValueError(
            "SGD diverged on every partition (non-finite weights) — lower "
            "learning_rate or pass standardize=True")
    ns, W = ns[ok], W[ok]
    beta = (W * ns[:, None]).sum(axis=0) / ns.sum()
    if standardize:
        # de-standardize back to the original feature space
        w0, wj = beta[0], beta[1:]
        if kind == "linear":
            orig_j = wj * sd_y / sd
            orig_0 = mu_y + sd_y * w0 - float((orig_j * mu).sum())
        else:
            orig_j = wj / sd
            orig_0 = w0 - float((orig_j * mu).sum())
        beta = np.concatenate([[orig_0], orig_j])
    return SGDModel(kind=kind, feature_exprs=feats, beta=beta,
                    n=float(ns.sum()), n_partitions=int(ok.sum()))


def stochastic_linear_regression(df: DataFrame, formula: str,
                                 learning_rate: float = 1e-5,
                                 l1: float = 0.1, l2: float = 0.0,
                                 batch_size: int = 15, method: str = "SGD",
                                 epochs: int = 1, seed: int = 42,
                                 standardize: bool = False) -> SGDModel:
    """Reference ``stochasticLinearRegression`` (regression.py:670-764):
    mini-batch SGD with L1 prox / momentum / Nesterov updaters, states
    merge-averaged — here per-partition SGD + weighted model averaging.
    ``standardize=True`` z-scores internally (coefficients returned in the
    original space) — recommended for unscaled features.

    At-scale guidance: SGD is honestly data-linear PER EPOCH — every
    epoch is a full-table scan, so on a 100 TB table this is the most
    expensive way to fit a linear model.  Prefer :func:`ols` /
    :func:`~fast_causal_inference_spark.operators.glm.glm` (one or a few
    Gramian/IRLS sufficient-stats scans), or run this operator on a
    ``stratified_sample`` — it exists for reference parity and for
    L1/streaming-style updates, not as the scale path."""
    return _sgd_fit(df, formula, "linear", learning_rate, l1, l2,
                    batch_size, method, epochs, seed, standardize)


def stochastic_logistic_regression(df: DataFrame, formula: str,
                                   learning_rate: float = 1e-5,
                                   l1: float = 0.1, l2: float = 0.0,
                                   batch_size: int = 15, method: str = "SGD",
                                   epochs: int = 1, seed: int = 42,
                                   standardize: bool = False) -> SGDModel:
    """Reference ``stochasticLogisticRegression`` (regression.py:553-668):
    same updater family through the sigmoid link.  At-scale guidance:
    same as :func:`stochastic_linear_regression` — epochs are full-table
    scans; prefer :func:`logistic_regression` (IRLS sufficient-stats
    scans) or fit on a ``stratified_sample`` at cluster scale."""
    return _sgd_fit(df, formula, "logistic", learning_rate, l1, l2,
                    batch_size, method, epochs, seed, standardize)
