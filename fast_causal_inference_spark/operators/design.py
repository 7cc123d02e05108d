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
"""

from __future__ import annotations

import os
from contextlib import ExitStack

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["persist", "persist_design", "collect_small_design",
           "collect_columns", "small_design_limit", "SMALL_DESIGN_MAX_ROWS"]


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
