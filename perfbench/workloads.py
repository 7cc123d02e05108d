"""The workloads' call lists.

Each call is ``(name, fn)``: ``fn(ctx)`` drives the package through its
public functions and returns a fully materialized result (a DataFrame is
collected inside the call, so its time is the user's wait).  The result
is handed to the matching check in :mod:`checks` after timing.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from gen import COVARIATES

OLS_FORMULA = "y ~ arm + pre + x1 + x2 + x3 + x4"
LOGIT_FORMULA = "conv ~ arm + x1 + x2 + x3"
TLEARNER_FEATURES = ["pre", "x1", "x2"]
FOREST_FEATURES = ["x1", "x2", "x3", "x4"]
FOREST_TREES, FOREST_DEPTH = 4, 3
BOOT_B = 20
VIEW = "perfbench_ab"
# the calls a parallel warm-up starts first, so they do not finish last
SLOW_CALLS = ("causal_forest_fit", "logistic_regression", "linear_dml",
              "mann_whitney_utest")


@dataclass
class Ctx:
    spark: object
    df: object               # the input DataFrame
    extra: dict = field(default_factory=dict)


def _collect(df):
    return [r.asDict() for r in df.collect()]


def ab_calls(with_forest: bool) -> list[tuple[str, object]]:
    import fast_causal_inference_spark as fcis
    from fast_causal_inference_spark.uplift.causal_forest import CausalForest
    from fast_causal_inference_spark.uplift.metalearners import TLearner

    calls = [
        ("srm", lambda c: fcis.srm(c.df, "1", "arm")),
        ("ttest_2samp", lambda c: _collect(
            fcis.ttest_2samp(c.df, "avg(y)", "arm"))),
        ("ttest_2samp_cuped", lambda c: _collect(
            fcis.ttest_2samp(c.df, "avg(y)", "arm", X="avg(pre)"))),
        ("delta_method", lambda c: _collect(
            fcis.delta_method(c.df, "avg(clicks)/avg(views)",
                              group_cols=["arm"]))),
        ("xexpt_ttest_2samp", lambda c: fcis.xexpt_ttest_2samp(
            c.df, "clicks", "views", "arm", "user_id")),
        ("mann_whitney_utest", lambda c: fcis.mann_whitney_utest(
            c.df, "y", "arm")),
        ("ols", lambda c: fcis.ols(c.df, OLS_FORMULA)),
        ("logistic_regression", lambda c: fcis.logistic_regression(
            c.df, LOGIT_FORMULA)),
        ("linear_dml", lambda c: fcis.linear_dml(
            c.df, "y", "arm", COVARIATES, cv=3, fold_expr="user_id")),
        ("boot_strap", lambda c: _collect(
            fcis.boot_strap(c.df, "avg(y)", n_resamples=BOOT_B))),
        ("tlearner_fit", lambda c: TLearner(
            features=TLEARNER_FEATURES, outcome="y",
            treatment="arm").fit(c.df)),
    ]
    if with_forest:
        calls.append(("causal_forest_fit", lambda c: CausalForest(
            features=FOREST_FEATURES, outcome="y", treatment="arm",
            num_trees=FOREST_TREES, max_depth=FOREST_DEPTH,
            seed=7).fit(c.df)))
    calls += [
        ("sql_ttest_2samp", lambda c: _collect(fcis.sql(
            c.spark, f"SELECT ttest_2samp('avg(y)', arm) FROM {VIEW}"))),
        ("sql_delta_method", lambda c: _collect(fcis.sql(
            c.spark, "SELECT arm, deltamethod('avg(clicks)/avg(views)') "
                     f"AS std FROM {VIEW} GROUP BY arm"))),
        ("sql_ols", lambda c: fcis.sql(
            c.spark, f"SELECT ols('{OLS_FORMULA}') FROM {VIEW}")),
    ]
    return calls


# direct call paired with its sql() twin, for sql_macros.extra_s
SQL_PAIRS = [("ttest_2samp", "sql_ttest_2samp"),
             ("delta_method", "sql_delta_method"),
             ("ols", "sql_ols")]


def dedup_calls() -> list[tuple[str, object]]:
    from fast_causal_inference_spark.datapipe.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    def pairs(df):
        return sorted((int(r[0]), int(r[1]))
                      for r in df.select("id_a", "id_b").collect())

    def ngram(c):
        out = ngram_jaccard_pairs(c.df, threshold=0.5)
        c.extra["ngram_pairs"] = out
        return sorted((int(r["id_a"]), int(r["id_b"]), float(r["jaccard"]))
                      for r in out.collect())

    def components(c):
        comp = connected_components(c.extra.pop("ngram_pairs"))
        return {int(r["id"]): int(r["component"]) for r in comp.collect()}

    return [
        ("exact_dedup", lambda c: sorted(
            int(r[0]) for r in exact_dedup(c.df).select("doc_id").collect())),
        ("ngram_jaccard_pairs", ngram),
        ("minhash_lsh_pairs", lambda c: pairs(
            minhash_lsh_pairs(c.df, threshold=0.7))),
        ("simhash_pairs", lambda c: pairs(simhash_pairs(c.df))),
        ("connected_components", components),
    ]
