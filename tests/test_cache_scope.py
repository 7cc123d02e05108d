"""Raising paths release every operator-internal cache.

Each case runs an operator into an error after it has cached (and
materialized) an intermediate, then checks that the session holds
exactly as many persistent RDDs as before the call: the
``contextlib.ExitStack`` scope in the operator (``design.persist``) must
unpersist on the raising exit, not only on the normal one.
"""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_causal_inference_spark.datapipe.lm import train_bigram_lm
from fast_causal_inference_spark.datapipe.quality import (
    train_quality_classifier,
)
from fast_causal_inference_spark.operators import design
from fast_causal_inference_spark.operators import glm as glm_mod
from fast_causal_inference_spark.operators.resample import (
    permutation,
    permutation_alt,
)
from fast_causal_inference_spark.uplift.causal_forest import CausalForest


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _counts_frame(spark, n):
    # a distinct n per case: a plan-equal frame leaked by an earlier case
    # would already be cached and mask a second leak
    return spark.range(n).select(
        (F.col("id") % 5).cast("double").alias("y"),
        (F.col("id") % 7).cast("double").alias("x"))


def _boom(*args, **kwargs):
    raise RuntimeError("injected mid-IRLS failure")


def _glm_collected(spark, monkeypatch):
    monkeypatch.setattr(glm_mod, "_irls_wz_np", _boom)
    with pytest.raises(RuntimeError, match="mid-IRLS"):
        glm_mod.glm(_counts_frame(spark, 400), "y ~ x", family="poisson")


def _glm_distributed(spark, monkeypatch):
    # a zero row cap sends the fit down the distributed (100 TB) branch
    monkeypatch.setattr(design, "SMALL_DESIGN_MAX_ROWS", 0)
    monkeypatch.setattr(glm_mod, "_irls_wz", _boom)
    with pytest.raises(RuntimeError, match="mid-IRLS"):
        glm_mod.glm(_counts_frame(spark, 401), "y ~ x", family="poisson")


def _permutation_one_arm(spark, monkeypatch):
    df = spark.createDataFrame(
        pd.DataFrame({"x": [0.3, 1.1, 2.9, 0.2], "t": [0, 0, 0, 0]}))
    with pytest.raises(ValueError, match="both arms"):
        permutation(df, "avg(x)", "t", permutation_num=10)


def _permutation_alt_all_null(spark, monkeypatch):
    df = spark.createDataFrame([(None,), (None,), (None,)], "x double")
    with pytest.raises(ValueError, match="empty input"):
        permutation_alt(df, "avg(x)", permutation_num=10)


def _causal_forest_one_two_coding(spark, monkeypatch):
    rng = np.random.default_rng(5)
    n = 200
    pdf = pd.DataFrame({"x1": rng.normal(size=n), "x2": rng.normal(size=n),
                        "t": rng.integers(1, 3, n),      # coded 1/2
                        "y": rng.normal(size=n)})
    cf = CausalForest(features=["x1", "x2"], outcome="y", treatment="t",
                      num_trees=2, max_depth=2, ci_group_size=1)
    with pytest.raises(ValueError, match="both arms"):
        cf.fit(spark.createDataFrame(pdf))


def _bigram_lm_token_free(spark, monkeypatch):
    df = spark.createDataFrame([("   ",), ("",)], ["text"])
    with pytest.raises(ValueError, match="no non-empty tokens"):
        train_bigram_lm(df)


def _quality_classifier_token_free(spark, monkeypatch):
    df = spark.createDataFrame([(1, ""), (0, "   ")],
                               "label int, text string")
    with pytest.raises(ValueError, match="no non-empty tokens"):
        train_quality_classifier(df, "label")


@pytest.mark.parametrize("raising_call", [
    _glm_collected,
    _glm_distributed,
    _permutation_one_arm,
    _permutation_alt_all_null,
    _causal_forest_one_two_coding,
    _bigram_lm_token_free,
    _quality_classifier_token_free,
], ids=lambda f: f.__name__.lstrip("_"))
def test_raising_path_releases_caches(spark, monkeypatch, raising_call):
    before = _persisted(spark)
    raising_call(spark, monkeypatch)
    assert _persisted(spark) == before
