"""Two-sample Kolmogorov-Smirnov test — distributed ECDF max-gap.

Parity target: reference ``kolmogorov_smirnov_test.h`` (asymptotic p from the
Kolmogorov distribution; SR exposes 'auto'/'exact' modes — we implement the
asymptotic path, which is what matters at scale).

Scale design: one cheap count pass, then ``repartitionByRange`` +
``sortWithinPartitions``; each partition knows the global cumulative counts
entering it (broadcast prefix offsets) so the ECDF gap maximum reduces to a
per-partition scalar. Same pattern as mann_whitney, one range shuffle total.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from contextlib import ExitStack

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import persist
from fast_causal_inference_spark.serialization import ensure_udf_serializable


def _exact_ks_pvalue(d: float, n0: int, n1: int) -> float:
    """Exact P(D ≥ d) by the lattice-path probability recursion
    p[i][j] = p[i-1][j]·i/(i+j) + p[i][j-1]·j/(i+j), zeroing cells with
    |i/n0 − j/n1| ≥ d (numerically stable — works in probabilities, no
    binomial overflow). O(n0·n1); for the no-ties null distribution."""
    import numpy as np

    prev = np.zeros(n1 + 1)
    prev[0] = 1.0
    for j in range(1, n1 + 1):
        prev[j] = prev[j - 1] if (j / n1) < d else 0.0
    for i in range(1, n0 + 1):
        cur = np.zeros(n1 + 1)
        cur[0] = prev[0] if abs(i / n0) < d else 0.0
        for j in range(1, n1 + 1):
            if abs(i / n0 - j / n1) >= d:
                cur[j] = 0.0
            else:
                tot = i + j
                cur[j] = prev[j] * (i / tot) + cur[j - 1] * (j / tot)
        prev = cur
    return float(min(max(1.0 - prev[n1], 0.0), 1.0))


def _gate_exact(mode: str, n0: float, n1: float, no_ties: bool) -> bool:
    """The lattice-path null distribution assumes no ties, so tied data
    demotes 'exact' to the tie-robust asymptotic with a ``RuntimeWarning``
    (scipy-style graceful degradation rather than an error); 'auto' falls
    back silently."""
    if mode not in ("auto", "exact", "asymp"):
        raise ValueError(f"unknown mode {mode!r}: use 'auto', 'exact' "
                         f"or 'asymp'")
    if mode == "exact":
        if not no_ties:
            import warnings

            warnings.warn(
                "exact KS p-value assumes tie-free data; ties detected — "
                "falling back to the asymptotic distribution",
                RuntimeWarning, stacklevel=3)
            return False
        if n0 * n1 > 4_000_000:
            # the lattice DP is O(n0*n1) pure-Python driver work — an
            # explicit 'exact' on big data would hang for days, not err
            raise ValueError(
                f"exact KS limited to n0*n1 <= 4e6 (got "
                f"{n0 * n1:.3g}); use mode='asymp'")
        return True
    return mode == "auto" and no_ties and n0 * n1 <= 4_000_000


def kolmogorov_smirnov_test(df: DataFrame, data: str, index: str,
                            treatment_values: tuple = (0, 1),
                            num_partitions: int | None = None,
                            mode: str = "auto") -> pd.DataFrame:
    """Returns one-row pandas DataFrame: d_statistic, p_value, n0, n1.

    ``mode``: 'asymp' (Kolmogorov limit with Stephens' adjustment), 'exact'
    (lattice-path null distribution — reference SR exposes the same modes),
    or 'auto' (exact when n0·n1 ≤ 4e6).  The exact null distribution
    assumes tie-free data; with ties, 'exact' degrades to the asymptotic
    p-value with a ``RuntimeWarning`` and 'auto' degrades silently.
    """
    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v0, v1 = treatment_values
    vcol = F.expr(data).cast("double")
    # NaN is not NULL: pandas' groupby in the gap pass drops NaN keys
    # while the pass-1 counts include them — cum0/cum1 would disagree
    # with n0/n1 and silently corrupt D
    sub = (df.select((idx == F.lit(v1)).cast("int").alias("g"), vcol.alias("v"))
             .where(idx.isin([v0, v1]) & vcol.isNotNull()
                    & ~F.isnan(vcol)))
    # size by scan parallelism (see mann_whitney) — a small input skips the
    # 32-way range exchange and its boundary-sampling job entirely
    from fast_causal_inference_spark.operators.mann_whitney import (
        estimate_scan_splits,
    )

    est = estimate_scan_splits(sub)
    shuffle_p = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    p = num_partitions or (min(shuffle_p, est) if est else shuffle_p)
    if p == 1:
        # small input: fully relational ECDF gap — groupBy(v) reduces to
        # the distinct-value relation, window cumsums give both ECDFs, no
        # Python workers and no cache (see mann_whitney)
        from pyspark.sql import Window

        d = sub.groupBy("v").agg(F.count(F.lit(1)).cast("double").alias("t"),
                                 F.sum("g").cast("double").alias("g1"))
        wspec = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        tots = Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing)
        d = (d.withColumn("c1", F.sum("g1").over(wspec))
              .withColumn("c0", F.sum(F.col("t") - F.col("g1")).over(wspec))
              .withColumn("tn1", F.sum("g1").over(tots))
              .withColumn("tn0", F.sum(F.col("t") - F.col("g1")).over(tots)))
        row = d.agg(
            F.max(F.abs(F.col("c0") / F.nullif(F.col("tn0"), F.lit(0.0))
                        - F.col("c1") / F.nullif(F.col("tn1"), F.lit(0.0))))
            .alias("d"),
            F.first("tn0").alias("n0"),
            F.first("tn1").alias("n1"),
            F.max("t").alias("tmax")).collect()[0]
        n0 = float(row["n0"] or 0.0)
        n1 = float(row["n1"] or 0.0)
        if n0 == 0 or n1 == 0:
            raise ValueError("both groups must be non-empty")
        d_stat = float(row["d"])
        no_ties = float(row["tmax"] or 0.0) <= 1.0
        use_exact = _gate_exact(mode, n0, n1, no_ties)
        if use_exact:
            p_val = _exact_ks_pvalue(d_stat, int(n0), int(n1))
        else:
            en = math.sqrt(n0 * n1 / (n0 + n1))
            lam = (en + 0.12 + 0.11 / en) * d_stat
            p_val = float(dist.kolmogorov_sf(lam))
        return pd.DataFrame([{
            "d_statistic": d_stat, "p_value": p_val, "n0": n0, "n1": n1,
        }])
    with ExitStack() as scope:
        rp = persist(scope,
                     sub.repartitionByRange(p, "v").sortWithinPartitions("v"))

        # pass 1: per-partition per-group counts → prefix offsets
        counts = rp.selectExpr("spark_partition_id() AS pid", "g") \
                   .groupBy("pid", "g").count().collect()
        per_pid: dict[int, list[float]] = {}
        for r in counts:
            per_pid.setdefault(r["pid"], [0.0, 0.0])[r["g"]] = \
                float(r["count"])
        n0 = sum(v[0] for v in per_pid.values())
        n1 = sum(v[1] for v in per_pid.values())
        if n0 == 0 or n1 == 0:
            raise ValueError("both groups must be non-empty")
        offsets: dict[int, tuple[float, float]] = {}
        c0 = c1 = 0.0
        for pid in sorted(per_pid):
            offsets[pid] = (c0, c1)
            c0 += per_pid[pid][0]
            c1 += per_pid[pid][1]

        def gap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            chunks = list(batches)
            pdf = pd.concat(chunks) if chunks else None
            if pdf is None or len(pdf) == 0:
                yield pd.DataFrame([{"d": 0.0}])
                return
            off0, off1 = offsets.get(pid, (0.0, 0.0))
            grp = pdf.groupby("v", sort=True).agg(t=("g", "size"),
                                                  g1=("g", "sum"))
            cum1 = grp["g1"].cumsum().to_numpy(dtype=float) + off1
            cum0 = (grp["t"].cumsum().to_numpy(dtype=float)
                    - grp["g1"].cumsum().to_numpy(dtype=float)) + off0
            d = float(abs(cum0 / n0 - cum1 / n1).max())
            yield pd.DataFrame([{"d": d}])

        ensure_udf_serializable()
        d_stat = max(r["d"] for r in rp.mapInPandas(gap, "d double").collect())

        if mode == "exact" or (mode == "auto" and n0 * n1 <= 4_000_000):
            nd = rp.agg(F.countDistinct("v").alias("nd")).collect()[0]["nd"]
            no_ties = float(nd) == n0 + n1
        else:
            no_ties = False
    use_exact = _gate_exact(mode, n0, n1, no_ties)
    if use_exact:
        p_val = _exact_ks_pvalue(d_stat, int(n0), int(n1))
    else:
        en = math.sqrt(n0 * n1 / (n0 + n1))
        # asymptotic w/ Stephens' small-sample adjustment (scipy 'asymp')
        lam = (en + 0.12 + 0.11 / en) * d_stat
        p_val = float(dist.kolmogorov_sf(lam))
    return pd.DataFrame([{
        "d_statistic": d_stat, "p_value": p_val, "n0": n0, "n1": n1,
    }])


def kolmogorov_smirnov_test_spark(df: DataFrame, *args, **kwargs) -> DataFrame:
    pdf = kolmogorov_smirnov_test(df, *args, **kwargs)
    return df.sparkSession.createDataFrame(pdf)


def kolmogorov_smirnov_test_grouped(df: DataFrame, data: str, index: str,
                                    group_cols: list[str],
                                    treatment_values: tuple = (0, 1),
                                    mode: str = "auto") -> DataFrame:
    """GROUP BY variant: each report cell's KS computed in one
    ``applyInPandas`` task (cells are small; use the distributed
    :func:`kolmogorov_smirnov_test` for one globally-huge test)."""
    from pyspark.sql import types as T

    idx = F.col(index) if index.isidentifier() else F.expr(index)
    v0, v1 = treatment_values
    vcol = F.expr(data).cast("double")
    sub = (df.select(*group_cols,
                     (idx == F.lit(v1)).cast("int").alias("__g"),
                     vcol.alias("__v"))
             .where(idx.isin([v0, v1]) & vcol.isNotNull()
                    & ~F.isnan(vcol)))   # NaN keys: see ungrouped note
    keep = [f for f in sub.schema.fields if f.name in group_cols]
    schema = T.StructType(keep + [
        T.StructField(n, T.DoubleType())
        for n in ("d_statistic", "p_value", "n0", "n1")])

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out = {c: pdf[c].iloc[0] for c in group_cols}
        g = pdf["__g"].to_numpy()
        n1 = float(g.sum())
        n0 = float(len(pdf)) - n1
        if n0 == 0 or n1 == 0:
            out.update({"d_statistic": float("nan"), "p_value": float("nan"),
                        "n0": n0, "n1": n1})
            return pd.DataFrame([out],
                                columns=[f.name for f in schema.fields])
        grp = pdf.groupby("__v", sort=True).agg(t=("__g", "size"),
                                                g1=("__g", "sum"))
        cum1 = grp["g1"].cumsum().to_numpy(dtype=float)
        cum0 = grp["t"].cumsum().to_numpy(dtype=float) - cum1
        d = float(np.abs(cum0 / n0 - cum1 / n1).max())
        no_ties = float(grp["t"].max()) <= 1.0
        if _gate_exact(mode, n0, n1, no_ties):
            p = _exact_ks_pvalue(d, int(n0), int(n1))
        else:
            en = math.sqrt(n0 * n1 / (n0 + n1))
            p = float(dist.kolmogorov_sf((en + 0.12 + 0.11 / en) * d))
        out.update({"d_statistic": d, "p_value": p, "n0": n0, "n1": n1})
        return pd.DataFrame([out], columns=[f.name for f in schema.fields])

    ensure_udf_serializable()
    return sub.groupBy(*group_cols).applyInPandas(finalize, schema)
