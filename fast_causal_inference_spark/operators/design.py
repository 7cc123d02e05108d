"""Persisted design projection for iterative solvers.

Every IRLS / Newton operator in this package scans its input once per
iteration (one Gramian-shaped aggregation — see ``glm.py``,
``quantreg.py``, ``logistic.py``).  Re-deriving (y, X) from the source
relation on every step repeats the parquet scan and the feature
expression evaluation 5–50 times per fit.  The standard fix — what
Spark MLlib's ``handlePersistence`` does before L-BFGS/IRLS — is to
project the complete-case design down to a flat double-typed relation,
persist it MEMORY_AND_DISK for the duration of the loop, and unpersist
afterwards.

At 100 TB this is not an optional micro-optimisation: the projected
design is p+O(1) doubles per row — orders of magnitude narrower than
the source table — and MEMORY_AND_DISK spills per-executor to local
disk when it does not fit, so each iteration reads columnar in-memory
(or local-disk) batches instead of re-scanning remote storage.

Cache lifetime: a function that caches opens one
``contextlib.ExitStack`` scope and persists through :func:`persist`,
which registers the frame's ``unpersist`` on that scope.  The cache is
released where the ``with`` block ends, on a normal and on a raising
exit alike; the block ends after the function's last scan of it.

Fisher scoring: :func:`fisher_scoring` is the one place that builds and
solves the IRLS Gramian for ``glm``, the binomial and negative-binomial
fits and ``logistic_regression`` — each IRLS step is one aggregation of
Σ w·xᵢ·z, Σ w·xᵢ·xⱼ (i ≤ j) and the row count over the persisted
design (or its numpy twin on a collected design), then a driver-side
solve.  :func:`irls_design` is the prelude those fits share; a family
brings only its y-range check, its start β and its per-row (w, z)
algebra.  ``glm_grouped`` keeps its own per-segment loop but builds and
unpacks its grouped scan with :func:`gramian_aggs` /
:func:`gramian_unpack`.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import ExitStack
from typing import NamedTuple

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["persist", "persist_design", "collect_small_design",
           "collect_columns", "small_design_limit", "SMALL_DESIGN_MAX_ROWS",
           "IrlsDesign", "irls_design", "fisher_scoring", "gramian_aggs",
           "gramian_unpack", "linear_predictor"]


def persist(scope: ExitStack, df: DataFrame,
            level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` at ``level`` (``None``: ``cache()``, the session's
    default cache level) and register its ``unpersist`` on ``scope``."""
    df = df.cache() if level is None else df.persist(level)
    scope.callback(df.unpersist)
    return df


def collect_columns(df: DataFrame) -> dict[str, np.ndarray]:
    """Collect every column of a (projected, numeric) frame as float64
    numpy arrays, via Arrow without the pandas block-consolidation step
    (the hottest driver line of the solver families under sampling);
    identical values/row order to ``toPandas()`` (NULL → NaN)."""
    try:
        tbl = df.toArrow()
        return {nm: tbl.column(i).to_numpy(zero_copy_only=False)
                    .astype(float, copy=False)
                for i, nm in enumerate(tbl.column_names)}
    except Exception:
        pdf = df.toPandas()
        return {nm: pdf[nm].to_numpy(dtype=float) for nm in pdf.columns}

# Small-input cutoff for the iterative solvers (round 11) — the same
# idea as the rank tests' small-input cutoff (mann_whitney.py:193): a
# design under the cutoff is at most a couple hundred MB of doubles, so
# the solver collects it ONCE and iterates driver-side in numpy, paying
# one Spark job instead of one per IRLS/Newton step (each step's job
# costs ~180 ms scheduling + ~300-420 ms Catalyst latency — SCALE.md
# round-6 decomposition — that dwarfs the numpy arithmetic).  Above the
# cutoff the distributed Gramian path runs unchanged — that is the
# 100 TB path, and the estimates are identical up to float-summation
# order either way.  The cutoff is CELL-budgeted (rows × design width),
# so wide designs collect proportionally fewer rows and driver memory
# stays bounded at ~MAX_CELLS × 8 bytes regardless of p.
SMALL_DESIGN_MAX_ROWS = int(os.environ.get(
    "FCIS_SMALL_DESIGN_ROWS", "2000000"))
SMALL_DESIGN_MAX_CELLS = int(os.environ.get(
    "FCIS_SMALL_DESIGN_CELLS", "16000000"))


def small_design_limit(width: int) -> int:
    """Largest row count the collected path takes for a design of
    ``width`` collected columns: the row cap, or the cell budget divided
    by the width when that is smaller."""
    return min(SMALL_DESIGN_MAX_ROWS,
               SMALL_DESIGN_MAX_CELLS // max(width, 1))


def collect_small_design(scope: ExitStack, df: DataFrame, xs: list[Column],
                         y: Column, off: Column, n_rows: int,
                         ) -> tuple[tuple[np.ndarray, np.ndarray,
                                          np.ndarray] | None, DataFrame]:
    """Collect the projected design as ``(X[n,p], y[n], off[n])`` numpy
    arrays when its ``n_rows`` fit :func:`small_design_limit`; returns
    ``(design, df)``.  Above the cutoff the design is None and ``df``
    comes back spread by :func:`repartition_big_design` (callers keep
    their distributed loop over it).

    The size gate is the caller's COUNT: counting prunes every projected
    column, so an over-cutoff table costs one cheap aggregate — an
    earlier LIMIT-probe variant shipped cutoff-many Arrow rows to the
    driver before giving up, a measured multi-second tax on every
    big-input solver call.  The count also materializes the caller's
    persisted design, work the distributed loop needs anyway."""
    lim = small_design_limit(len(xs) + 2)
    if lim <= 0 or n_rows > lim:
        return None, repartition_big_design(scope, df, n_rows)
    p = len(xs)
    sel = [c.alias(f"__cx{i}__") for i, c in enumerate(xs)]
    cols = collect_columns(
        df.select(*sel, y.alias("__cy__"), off.alias("__co__")))
    X = np.column_stack([cols[f"__cx{i}__"] for i in range(p)]) if p else \
        np.empty((len(cols["__cy__"]), 0))
    return (X, cols["__cy__"], cols["__co__"]), df


def repartition_big_design(scope: ExitStack, df: DataFrame, n_rows: int,
                           min_rows: int = 3_000_000) -> DataFrame:
    """Spread an ABOVE-cutoff persisted design across the session's
    cores when the source layout yields fewer splits than cores.

    Iterative solvers scan the cached design once per IRLS/Newton step;
    a big single-file parquet source (one split under
    ``maxPartitionBytes``) serializes EVERY step on one core — measured
    at a ×30 replica: a quantreg Newton scan of an 18M-row design took
    ~4 s on its single cached partition vs ~0.3 s spread across 32.
    One round-robin shuffle at solver init buys every subsequent scan
    full parallelism; round robin keeps the layout deterministic for a
    given (source layout, target count).

    Only the above-cutoff branch calls this (``collect_small_design``,
    and the solvers with their own collectors): below the cutoff the
    collected numpy path never scans the cache again, and the
    golden-oracle scales (sf0.01) always sit below the cutoff, so their
    float-sum combine order is untouched.

    Returns the repartitioned child persisted on ``scope``; it is
    materialized before the parent's cache is dropped early, so the
    solver holds one copy of the design while it iterates."""
    if n_rows < min_rows:
        return df
    try:
        spark = df.sparkSession
        cores = spark.sparkContext.defaultParallelism
        # partition COUNT lies about distribution: a single-row-group
        # parquet file (any one-file table a single writer produced)
        # splits into byte ranges of which exactly ONE holds every row
        # — getNumPartitions() says 28, the scan runs on 1 core.  Ask
        # for the true row spread instead: one cheap JVM aggregation
        # over the cache the caller's count gate just materialized (a
        # python-side first-row probe was measured 20x slower — it
        # drags rows through the Arrow socket).
        spread = df.groupBy(F.spark_partition_id()).count() \
            .where(F.col("count") > 0).count()
    except Exception:
        return df
    if spread >= min(cores, 8):
        return df
    work = persist(scope, df.repartition(cores), StorageLevel.MEMORY_AND_DISK)
    work.count()
    # deliberate early release: the parent is dead once the child exists
    df.unpersist()
    return work


def persist_design(scope: ExitStack, df: DataFrame, y: Column,
                   feat_cols: list[Column],
                   off: Column | None = None, use_bias: bool = True,
                   ) -> tuple[DataFrame, Column, list[Column], Column]:
    """Project ``(y, features[, offset])`` to flat columns and persist.

    Returns ``(work, y, xs, off)`` rebased onto the cached relation:
    ``xs`` gets a leading ``lit(1.0)`` bias column when ``use_bias``
    (never materialized — constants cost storage, not compute), and
    ``off`` comes back as ``lit(0.0)`` when no offset was given.

    The cache lives on the caller's ``scope``: it is released when the
    caller's ``with`` block exits, normally or by a raise.
    """
    cols = [y.alias("__y__")]
    cols += [c.alias(f"__x{j}__") for j, c in enumerate(feat_cols)]
    if off is not None:
        cols.append(off.alias("__off__"))
    # NOTE: deliberately NO repartition — the projection keeps the
    # source's split layout, so per-partition row order (and therefore
    # every float-sum combine order) is identical to scanning the
    # source directly: results stay bit-for-bit what the un-persisted
    # loop produced, which the frozen golden oracles depend on.  A
    # repartition here once broke gen_goldens' cross-process
    # determinism check (partition count followed defaultParallelism).
    work = persist(scope, df.select(*cols), StorageLevel.MEMORY_AND_DISK)
    xs = ([F.lit(1.0)] if use_bias else []) \
        + [F.col(f"__x{j}__") for j in range(len(feat_cols))]
    return (work, F.col("__y__"), xs,
            F.col("__off__") if off is not None else F.lit(0.0))


class IrlsDesign(NamedTuple):
    """A persisted complete-case design, as :func:`irls_design` returns
    it: the relation and its columns rebased onto it, the collected
    ``(X, y, off)`` arrays below the small-design cutoff (else None),
    and the init scan's mean/min/max of y."""
    df: DataFrame
    y: Column
    xs: list[Column]
    off: Column
    des: tuple[np.ndarray, np.ndarray, np.ndarray] | None
    mean: float
    lo: float
    hi: float

    def intercept_only(self) -> IrlsDesign:
        """The same rows with the design cut to the bias column — the
        null model of a fit with an offset."""
        des = None if self.des is None else \
            (np.ones((len(self.des[1]), 1)), self.des[1], self.des[2])
        return self._replace(xs=[F.lit(1.0)], des=des)


def irls_design(scope: ExitStack, df: DataFrame, y_expr: str,
                feats: list[str], offset: str | None = None,
                use_bias: bool = True) -> IrlsDesign:
    """Prelude of the Fisher-scoring fits: keep the complete cases,
    persist the projected design on ``scope`` (:func:`persist_design`),
    run ONE init scan of count / avg / min / max of y — it also
    materializes the cache — and collect the design when it is small
    (:func:`collect_small_design`).  Raises on an input with no
    complete row."""
    y = F.expr(y_expr).cast("double")
    x = [F.expr(e).cast("double") for e in feats]
    off = F.expr(offset).cast("double") if offset is not None else None
    # complete-case filter: a NULL-y (or NULL-feature/offset) row would
    # otherwise enter the y-free Gramian sums but not the y-bearing ones,
    # silently biasing the solve
    cc = y.isNotNull() if off is None else y.isNotNull() & off.isNotNull()
    for c in x:
        cc = cc & c.isNotNull()
    df, y, xs, off = persist_design(scope, df.where(cc), y, x, off=off,
                                    use_bias=use_bias)
    init = df.agg(F.count(F.lit(1)).alias("n"), F.avg(y).alias("m"),
                  F.min(y).alias("lo"), F.max(y).alias("hi")).collect()[0]
    if init["m"] is None:
        raise ValueError("no non-NULL outcome rows")
    des, df = collect_small_design(scope, df, xs, y, off,
                                   n_rows=int(init["n"]))
    return IrlsDesign(df, y, xs, off, des, float(init["m"]),
                      float(init["lo"]), float(init["hi"]))


def linear_predictor(beta: np.ndarray, xs: list[Column],
                     off: Column) -> Column:
    """η = Σ βⱼ·xⱼ + off as one Column, summed left to right."""
    eta: Column = F.lit(float(beta[0])) * xs[0]
    for j in range(1, len(xs)):
        eta = eta + F.lit(float(beta[j])) * xs[j]
    return eta + off


def gramian_aggs(ps: list[Column], w: Column, z: Column | None,
                 y: Column) -> list[Column]:
    """Aggregates of one weighted Gramian: Σ w·xᵢ·z as ``b{i}`` (left
    out when ``z`` is None), Σ w·xᵢ·xⱼ for i ≤ j as ``a{i}_{j}`` and
    count(y) as ``n__``.  Usable under ``agg`` and ``groupBy().agg``."""
    aggs = []
    for i in range(len(ps)):
        if z is not None:
            aggs.append(F.sum(w * ps[i] * z).alias(f"b{i}"))
        for j in range(i, len(ps)):
            aggs.append(F.sum(w * ps[i] * ps[j]).alias(f"a{i}_{j}"))
    aggs.append(F.count(y).alias("n__"))
    return aggs


def gramian_unpack(row, p: int) -> tuple[np.ndarray, np.ndarray | None,
                                         float]:
    """``(A, b, n)`` from one :func:`gramian_aggs` row; ``b`` is None
    when the row carries no z sums."""
    d = row.asDict()
    A = np.empty((p, p))
    for i in range(p):
        for j in range(i, p):
            A[i, j] = A[j, i] = d[f"a{i}_{j}"]
    b = np.array([d[f"b{i}"] for i in range(p)], dtype=float) \
        if "b0" in d else None
    return A, b, float(d["n__"])


def _gramian_scan(d: IrlsDesign, beta: np.ndarray, wz: Callable,
                  ) -> tuple[np.ndarray, np.ndarray, float]:
    """One distributed Fisher step: staged Projects (η; the family's μ
    stage; w and z), then one aggregation of the weighted Gramian."""
    p = len(d.xs)
    base = d.df.select(*[c.alias(f"__p{i}__") for i, c in enumerate(d.xs)],
                       d.y.alias("__yy__"),
                       linear_predictor(beta, d.xs, d.off).alias("__eta__"),
                       d.off.alias("__o__"))
    mid, w, z = wz(base, F.col("__eta__"), F.col("__yy__"), F.col("__o__"))
    ps = [F.col(f"__p{i}__") for i in range(p)]
    step = mid.select(*ps, w.alias("__w__"), z.alias("__z__"),
                      F.col("__yy__"))
    row = step.agg(*gramian_aggs(ps, F.col("__w__"), F.col("__z__"),
                                 F.col("__yy__"))).collect()[0]
    return gramian_unpack(row, p)


def fisher_scoring(d: IrlsDesign, beta: np.ndarray, wz: Callable,
                   wz_np: Callable, max_iter: int, tol: float,
                   ) -> tuple[np.ndarray, np.ndarray, float, int, bool]:
    """IRLS from ``beta`` until ``max|Δβ| < tol`` or ``max_iter`` steps.

    Each step builds A = Σ w·xxᵀ, b = Σ w·x·z and n — one Spark
    aggregation over the persisted design, or ``(X·w)ᵀX`` and ``Xᵀ(w·z)``
    in numpy when the design was collected — and solves Aβ = b on the
    driver.  Returns ``(beta, A, n, iterations, converged)``; A is the
    Fisher information of the last step (the identity and n = 0 when
    ``max_iter < 1``).

    The family's per-row algebra comes twice.  ``wz(base, eta, y, off)
    -> (frame, w, z)``: ``base`` carries the design columns, y, η and the
    offset; the builder may stage μ (or μ and dμ/dη) in one more Project
    over it so exp/erf run once per row, and returns that frame with w
    and z as Columns over it.  ``wz_np(eta, y, off) -> (w, z)`` is its
    twin on the collected arrays, with the same float operations in the
    same order."""
    A = np.eye(len(d.xs))
    n = 0.0
    it = 0
    converged = False
    for it in range(1, max_iter + 1):
        if d.des is not None:
            X, yv, ov = d.des
            eta = X @ beta + ov
            w, z = wz_np(eta, yv, ov)
            A, b, n = (X * w[:, None]).T @ X, X.T @ (w * z), float(len(yv))
        else:
            A, b, n = _gramian_scan(d, beta, wz)
        new_beta = np.linalg.solve(A, b)
        delta = float(np.max(np.abs(new_beta - beta)))
        beta = new_beta
        if delta < tol:
            converged = True
            break
    return beta, A, n, it, converged
