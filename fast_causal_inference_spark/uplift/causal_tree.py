"""Honest causal tree — driver-orchestrated greedy splits over ONE binned
sufficient-statistics aggregation per depth level.

Parity target: reference ``uplift.py:266-980,1243-1862`` (CausalTree:
candidate splits evaluated from GroupSet-style (cnt, sum, sum²) per
treatment × feature-bin; quantile binning at ``uplift.py:1410-1415``; honest
variant estimates leaf effects on a held-out half).

Scale shape (SURVEY.md §3.3): the tree lives on the driver; each level runs a
single ``groupBy(node, feature, bin, treatment)`` over melted feature bins —
the classic MLlib decision-tree pattern. Candidate thresholds are
``approxQuantile`` sketch edges (max ~32 bins/feature), so no sort and no
per-split jobs; shuffle payload is O(#nodes·#features·#bins) rows of 4 doubles.
"""

from __future__ import annotations

import math
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import persist


@dataclass
class _Node:
    node_id: int
    depth: int
    feature: str | None = None       # split feature (None → leaf)
    threshold: float | None = None   # goes left when value <= threshold
    left: int | None = None
    right: int | None = None
    tau: float = float("nan")        # estimated effect in this node
    stderr: float = float("nan")
    n: float = 0.0
    n1: float = 0.0


@dataclass
class CausalTree:
    """Greedy honest causal tree maximizing effect heterogeneity.

    Split criterion (CT-H): n_l·n_r/n² · (τ_l − τ_r)², requiring
    ``min_node_size`` rows per arm per child.
    """

    features: list[str]
    outcome: str = "y"
    treatment: str = "treatment"
    max_depth: int = 3
    min_node_size: int = 100
    n_bins: int = 16
    honesty: bool = True
    honesty_fraction: float = 0.5
    seed: int = 42
    nodes_: dict[int, "_Node"] = field(default_factory=dict, repr=False)
    edges_: dict[str, list[float]] = field(default_factory=dict, repr=False)

    # -- helpers --------------------------------------------------------
    def _bin_column(self, feat: str) -> Column:
        """Bin index via when-chain over the sketch edges."""
        edges = self.edges_[feat]
        c = F.expr(feat).cast("double")
        out = None
        for i, e in enumerate(edges):
            cond = c <= e
            out = F.when(cond, i) if out is None else out.when(cond, i)
        return (out.otherwise(len(edges)) if out is not None
                else F.lit(0)).cast("int")

    def _node_column(self) -> Column:
        """Current node assignment as a nested CASE WHEN."""
        def descend(nid: int) -> Column:
            node = self.nodes_[nid]
            if node.feature is None:
                return F.lit(nid)
            c = F.expr(node.feature).cast("double")
            return F.when(c <= node.threshold, descend(node.left)) \
                    .otherwise(descend(node.right))

        return descend(0)

    # -- fit ------------------------------------------------------------
    def fit(self, df: DataFrame) -> "CausalTree":
        t = F.expr(self.treatment).cast("int")
        y = F.expr(self.outcome).cast("double")
        # sorted: a bare set comprehension iterates in per-process string-
        # hash order, and the column list feeds xxhash64 for the honesty
        # split — unsorted, the fitted tree differs between processes
        work = df.select(*sorted({f for feat in self.features
                                  for f in _cols_of(df, feat)}),
                         t.alias("__t"), y.alias("__y"))
        if self.honesty:
            # the honesty draw hashes FEATURE VALUES only — never __t or
            # __y (duplicated (x,t,y) rows would co-assign by outcome,
            # putting outcome-dependent subsets in each half, the exact
            # bias honesty exists to remove; same rule as causal_forest
            # and dml._fold_column)
            h = F.pmod(F.xxhash64(*[F.expr(f).cast("double")
                                    for f in self.features],
                                  F.lit(self.seed)), F.lit(1000))
            work = work.withColumn(
                "__split", (h < int(1000 * self.honesty_fraction)).cast("int"))
        else:
            work = work.withColumn("__split", F.lit(1))
        with ExitStack() as scope:
            work = persist(scope, work)

            # quantile sketch edges — ONE multi-column pass for all features
            probs = [i / self.n_bins for i in range(1, self.n_bins)]
            fcols = [f"__feat{i}" for i in range(len(self.features))]
            qdf = work.select(*[F.expr(f).cast("double").alias(c)
                                for f, c in zip(self.features, fcols)])
            for feat, edges in zip(self.features,
                                   qdf.approxQuantile(fcols, probs, 0.001)):
                self.edges_[feat] = sorted(set(edges))

            self.nodes_ = {0: _Node(0, 0)}
            frontier = [0]
            next_id = 1
            for _ in range(self.max_depth):
                if not frontier:
                    break
                stats = self._level_stats(work, split_half=1)
                new_frontier = []
                for nid in frontier:
                    best = self._best_split(stats, nid)
                    if best is None:
                        continue
                    feat, thr = best
                    node = self.nodes_[nid]
                    node.feature = feat
                    node.threshold = thr
                    node.left = next_id
                    node.right = next_id + 1
                    self.nodes_[next_id] = _Node(next_id, node.depth + 1)
                    self.nodes_[next_id + 1] = _Node(next_id + 1,
                                                     node.depth + 1)
                    new_frontier += [next_id, next_id + 1]
                    next_id += 2
                frontier = new_frontier

            # leaf effects on the estimation half (honest) or everything
            est_half = 0 if self.honesty else 1
            eff = (work.where(F.col("__split") == est_half if self.honesty
                              else F.lit(True))
                   .withColumn("__node", self._node_column())
                   .groupBy("__node", "__t")
                   .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("s"),
                        F.sum(F.col("__y") * F.col("__y")).alias("s2"))
                   .collect())
            per_node: dict[int, dict[int, tuple]] = {}
            for r in eff:
                per_node.setdefault(r["__node"], {})[r["__t"]] = (
                    float(r["n"]), float(r["s"]), float(r["s2"]))
            # internal nodes carry the SUM of their leaves' moments (the one
            # leaf-grain aggregation covers every node in the tree by
            # additivity), so each node — internal or leaf — gets an honest
            # effect where its accumulated estimation half supports one
            def _acc(nid: int) -> dict:
                node = self.nodes_[nid]
                if node.left is None:
                    return per_node.get(nid, {})
                a, b = _acc(node.left), _acc(node.right)
                merged = {}
                for arm in set(a) | set(b):
                    x = a.get(arm, (0.0, 0.0, 0.0))
                    z = b.get(arm, (0.0, 0.0, 0.0))
                    merged[arm] = (x[0] + z[0], x[1] + z[1], x[2] + z[2])
                per_node[nid] = merged
                return merged

            _acc(0)
            for nid, arms in per_node.items():
                node = self.nodes_[nid]
                if 0 in arms and 1 in arms and arms[0][0] > 1 \
                        and arms[1][0] > 1:
                    n0, s0, q0 = arms[0]
                    n1, s1, q1 = arms[1]
                    m0, m1 = s0 / n0, s1 / n1
                    v0 = (q0 - n0 * m0 * m0) / (n0 - 1)
                    v1 = (q1 - n1 * m1 * m1) / (n1 - 1)
                    node.tau = m1 - m0
                    node.stderr = math.sqrt(v0 / n0 + v1 / n1)
                    node.n = n0 + n1
                    node.n1 = n1
            # honest-half fallback: min_node_size is enforced on the SPLIT
            # half, so by hash luck a leaf's estimation half can lack 2 rows
            # per arm and its tau stays NaN — predict() would then silently
            # emit NaN for that whole subpopulation.  Fall back to the
            # nearest ancestor with a defined effect (the standard honest-
            # tree remedy: a coarser but valid estimate beats no estimate).
            def _inherit(nid: int, ptau, pse, pn, pn1):
                node = self.nodes_[nid]
                if node.tau is None or node.tau != node.tau:
                    node.tau, node.stderr = ptau, pse
                    node.n, node.n1 = pn, pn1
                for child in (node.left, node.right):
                    if child is not None:
                        _inherit(child, node.tau, node.stderr,
                                 node.n, node.n1)
            _inherit(0, float("nan"), float("nan"), 0.0, 0.0)
        return self

    def _level_stats(self, work: DataFrame, split_half: int) -> pd.DataFrame:
        """(node, feature, bin, t) → cnt/sum/sum² in ONE melted pass."""
        pairs = F.array(*[
            F.struct(F.lit(feat).alias("feature"),
                     self._bin_column(feat).alias("bin"))
            for feat in self.features
        ])
        melted = (work.where(F.col("__split") == split_half)
                  .withColumn("__node", self._node_column())
                  .select("__node", "__t", "__y", F.explode(pairs).alias("fb"))
                  .select("__node", "__t", "__y", "fb.feature", "fb.bin"))
        agg = (melted.groupBy("__node", "feature", "bin", "__t")
               .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__y").alias("s"),
                    F.sum(F.col("__y") * F.col("__y")).alias("s2")))
        return agg.toPandas()

    def _best_split(self, stats: pd.DataFrame, nid: int):
        sub = stats[stats["__node"] == nid]
        if sub.empty:
            return None
        best_score, best = 0.0, None
        for feat in self.features:
            fs = sub[sub.feature == feat]
            if fs.empty:
                continue
            edges = self.edges_[feat]
            nb = len(edges) + 1
            cnt = np.zeros((2, nb))
            ssum = np.zeros((2, nb))
            for _, r in fs.iterrows():
                if r["__t"] in (0, 1):
                    cnt[int(r["__t"]), int(r["bin"])] = r["cnt"]
                    ssum[int(r["__t"]), int(r["bin"])] = r["s"]
            ccnt = cnt.cumsum(axis=1)
            csum = ssum.cumsum(axis=1)
            tot_c = ccnt[:, -1]
            tot_s = csum[:, -1]
            for b in range(nb - 1):       # split after bin b → threshold edges[b]
                l0, l1 = ccnt[0, b], ccnt[1, b]
                r0, r1 = tot_c[0] - l0, tot_c[1] - l1
                if min(l0, l1, r0, r1) < self.min_node_size:
                    continue
                tau_l = csum[1, b] / l1 - csum[0, b] / l0
                tau_r = ((tot_s[1] - csum[1, b]) / r1
                         - (tot_s[0] - csum[0, b]) / r0)
                nl, nr = l0 + l1, r0 + r1
                n = nl + nr
                score = nl * nr / (n * n) * (tau_l - tau_r) ** 2
                if score > best_score:
                    best_score, best = score, (feat, edges[b])
        return best

    # -- predict --------------------------------------------------------
    def ite_column(self) -> Column:
        def descend(nid: int) -> Column:
            node = self.nodes_[nid]
            if node.feature is None:
                return F.lit(float(node.tau))
            c = F.expr(node.feature).cast("double")
            return F.when(c <= node.threshold, descend(node.left)) \
                    .otherwise(descend(node.right))

        return descend(0)

    def predict(self, df: DataFrame, alias: str = "ite") -> DataFrame:
        return df.withColumn(alias, self.ite_column())

    def leaves(self) -> pd.DataFrame:
        rows = []
        for node in self.nodes_.values():
            if node.feature is None:
                z = node.tau / node.stderr if node.stderr > 0 else float("nan")
                rows.append({
                    "node_id": node.node_id, "depth": node.depth,
                    "n": node.n, "n_treated": node.n1, "tau": node.tau,
                    "stderr": node.stderr, "z": z,
                    "p_value": float(2 * dist.norm_sf(abs(z)))
                    if z == z else float("nan"),
                })
        return pd.DataFrame(rows).sort_values("node_id").reset_index(drop=True)

    def rules(self) -> list[str]:
        """Human-readable path → effect rules."""
        out = []

        def walk(nid, path):
            node = self.nodes_[nid]
            if node.feature is None:
                cond = " AND ".join(path) or "TRUE"
                out.append(f"IF {cond} THEN tau={node.tau:.4f} (n={node.n:.0f})")
                return
            walk(node.left, path + [f"{node.feature} <= {node.threshold:.4g}"])
            walk(node.right, path + [f"{node.feature} > {node.threshold:.4g}"])

        walk(0, [])
        return out


def _cols_of(df: DataFrame, expr: str) -> list[str]:
    """Columns referenced by a feature expression (fallback: the expr itself
    when it is a plain column)."""
    if expr in df.columns:
        return [expr]
    return [c for c in df.columns if c in expr] or [df.columns[0]]
