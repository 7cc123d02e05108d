"""Both branches of the Fisher-scoring loop give the same fit.

Below the small-design cutoff ``design.fisher_scoring`` iterates in
numpy on a collected design; above it every step is one Spark
aggregation over the persisted design — the branch a 100 TB input
takes.  Each fit here runs on the same small frame twice, the second
time with a zero row cap that forces the distributed branch (and with
``collect_columns`` made to raise, so a silent fallback to the
collected branch cannot pass).  The branches differ only in float
summation order, so beta and stderr agree to 1e-9 and the counts agree
exactly.
"""
import numpy as np
import pandas as pd
import pytest

from fast_causal_inference_spark.operators import design
from fast_causal_inference_spark.operators.glm import (
    glm,
    glm_grouped,
    negative_binomial_regression,
)
from fast_causal_inference_spark.operators.logistic import logistic_regression


@pytest.fixture(scope="module")
def irls_pdf():
    rng = np.random.default_rng(17)
    n = 1200
    x1 = rng.normal(size=n)
    x2 = rng.normal(size=n)
    expo = rng.uniform(0.5, 2.0, n)
    lam = np.exp(0.3 + 0.4 * x1 - 0.2 * x2) * expo
    ypos = rng.gamma(2.0, np.exp(0.5 + 0.3 * x1) / 2.0)
    return pd.DataFrame({
        "x1": x1, "x2": x2, "lexpo": np.log(expo),
        "ycnt": rng.poisson(lam).astype(float),
        "ynb": rng.negative_binomial(2.0, 2.0 / (2.0 + lam)).astype(float),
        "ypos": ypos,
        "ytw": np.where(rng.uniform(size=n) < 0.3, 0.0, ypos),
        "yb": (0.2 + 0.7 * x1 - 0.5 * x2 + rng.normal(size=n) > 0)
        .astype(float),
        "g": rng.integers(0, 3, n),
    })


@pytest.fixture(scope="module")
def irls_df(spark, irls_pdf):
    return spark.createDataFrame(irls_pdf).repartition(4).cache()


FITS = {
    "poisson_offset": lambda df: glm(df, "ycnt ~ x1 + x2", family="poisson",
                                     offset="lexpo"),
    "gamma": lambda df: glm(df, "ypos ~ x1 + x2", family="gamma"),
    "tweedie": lambda df: glm(df, "ytw ~ x1 + x2", family="tweedie"),
    "probit_offset": lambda df: glm(df, "yb ~ x1 + x2", family="binomial",
                                    link="probit", offset="0.1 * lexpo"),
    "cloglog_offset": lambda df: glm(df, "yb ~ x1 + x2", family="binomial",
                                     link="cloglog", offset="0.1 * lexpo"),
    "negbin_alpha_estimated": lambda df: negative_binomial_regression(
        df, "ynb ~ x1 + x2"),
    "glm_grouped_poisson": lambda df: glm_grouped(
        df, "ycnt ~ x1 + x2", "g", family="poisson"),
    "logistic_regression": lambda df: logistic_regression(df, "yb ~ x1 + x2"),
}


def _models(fit):
    return dict(sorted(fit.items())) if isinstance(fit, dict) else {"": fit}


def _no_collect(*args, **kwargs):
    raise AssertionError("the distributed branch collected the design")


def _assert_same_fit(a, b):
    assert a.beta == pytest.approx(b.beta, rel=1e-9)
    assert a.stderr == pytest.approx(b.stderr, rel=1e-9)
    assert (a.n, a.n_iter, a.converged) == (b.n, b.n_iter, b.converged)


@pytest.mark.parametrize("name", FITS)
def test_collected_and_distributed_branches_agree(name, irls_df,
                                                  monkeypatch):
    collected = _models(FITS[name](irls_df))
    monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    monkeypatch.setattr(design, "collect_columns", _no_collect)
    distributed = _models(FITS[name](irls_df))
    assert collected.keys() == distributed.keys()
    for key, model in collected.items():
        _assert_same_fit(model, distributed[key])


@pytest.mark.parametrize("branch", ["collected", "distributed"])
def test_logistic_fits_complete_cases(branch, spark, irls_pdf, monkeypatch):
    """A NULL-outcome or NULL-feature row leaves the logistic fit exactly
    as if it had been removed before the call."""
    if branch == "distributed":
        monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    clean = irls_pdf[["yb", "x1", "x2"]].iloc[:600].reset_index(drop=True)
    dirty = clean.astype(object)
    dirty.loc[5, "yb"] = None
    dirty.loc[17, "x1"] = None
    dirty.loc[240, "x2"] = None
    dirty.loc[411, "yb"] = None
    kept = dirty.notna().all(axis=1).to_numpy()
    schema = "yb double, x1 double, x2 double"
    # one partition each, so both frames sum the kept rows in one order
    m_dirty = logistic_regression(
        spark.createDataFrame(dirty, schema).coalesce(1), "yb ~ x1 + x2")
    m_clean = logistic_regression(
        spark.createDataFrame(clean[kept], schema).coalesce(1),
        "yb ~ x1 + x2")
    assert m_dirty.n == m_clean.n == kept.sum() == 596
    assert m_dirty.beta == pytest.approx(m_clean.beta, rel=1e-12)
    assert m_dirty.stderr == pytest.approx(m_clean.stderr, rel=1e-12)
