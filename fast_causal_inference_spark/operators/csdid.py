"""Callaway-Sant'Anna group-time average treatment effects (beyond-ref).

Completes the staggered-adoption toolbox next to ``eventstudy.py``: where
the TWFE event study estimates ONE pooled dynamic path (and inherits the
negative-weighting bias under heterogeneous effects), Callaway-Sant'Anna
(JoE 2021) estimates each group-time cell ATT(g, t) from a clean 2x2
difference-in-differences against never-treated (or not-yet-treated)
units only, then aggregates the cells with explicit, non-negative
weights.  This is the estimator the Sun-Abraham / Goodman-Bacon critique
recommends, so the two operators form a check-pair: when their event
paths diverge, TWFE contamination is the first suspect.

Estimator (unconditional / no-covariate flavor):

    ATT(g, t) = E[Y_t - Y_b | G = g] - E[Y_t - Y_b | control]

with base period b = g-1 (``base_period='universal'``) or the
immediately preceding period for pre-treatment placebo cells
(``base_period='varying'``), and controls either never-treated units or
units not yet treated at max(t, b).

Spark shape — everything is cell-mean algebra, so the plan is four
shuffles of shrinking size and NO driver-side row loops:

1. collapse the input to (unit, period) panel cells — ONE groupBy that
   also folds in the "adoption is unit-constant" validity check;
2. broadcast-join the tiny driver-built (cell_id, g, t, b) comparison
   spec (|groups| x |periods| rows) against the panel, keeping rows
   whose period is the cell's t or b — the fan-out is bounded by
   2·|groups| per panel row;
3. ONE groupBy(cell, unit) pairs each unit's t and b outcomes into a
   long difference d_i = Y_it - Y_ib (units missing either period drop
   out of that cell only — the estimator does not require a balanced
   panel);
4. ONE groupBy(cell) of {n, sum d, sum d²} per arm yields every ATT(g,t)
   with its Welch standard error.

Aggregated parameters (event-study path by relative period, per-group
averages, one overall ATT) are weighted means of the ATT(g, t) cells
computed on the driver; their standard errors come from a unit-grain
influence-function pass over the SAME long-difference relation — the
per-unit contributions to every cell a unit appears in are summed BEFORE
squaring, so reuse of the control units across cells is covariance the
estimate keeps, not an independence assumption.  All sums, so a DuckDB
oracle can re-derive every number.

At 100 TB the panel collapse (step 1) dominates and is one map-side
combinable shuffle keyed on (unit, period); steps 2-4 run on the
collapsed panel whose size is |units|·|periods| regardless of raw row
count.
"""

from __future__ import annotations

import math
import warnings
from contextlib import ExitStack
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_causal_inference_spark import stats_distributions as dist
from fast_causal_inference_spark.operators.design import persist


@dataclass
class CSDidResult:
    """ATT(g,t) cells plus the three standard aggregations."""

    att_gt: pd.DataFrame       # group, time, base, att, stderr, ...
    event_study: pd.DataFrame  # rel_period, estimate, stderr, ...
    group: pd.DataFrame        # group, estimate, stderr, ...
    overall: dict              # {"att", "stderr", "t_stat", "p_value", ...}
    control: str
    base_period: str
    skipped_groups: list

    def __repr__(self):
        o = self.overall
        return (f"CSDidResult(cells={len(self.att_gt)}, "
                f"overall_att={o['att']:.6g} (se={o['stderr']:.6g}), "
                f"control={self.control!r})")


def _zq(alpha: float) -> float:
    return float(dist.norm_ppf(1 - alpha / 2))


def callaway_santanna(df: DataFrame, Y: str, unit: str, time: str,
                      adoption: str, control: str = "never_treated",
                      base_period: str = "universal",
                      alpha: float = 0.05) -> CSDidResult:
    """Group-time ATTs with event-study / group / overall aggregations.

    ``adoption`` — SQL expression giving each row's unit-level first
    treated period; NULL marks never-treated units.  Must be constant
    within a unit (validated).  ``control`` ∈ {'never_treated',
    'not_yet_treated'}; ``base_period`` ∈ {'universal', 'varying'}.

    Periods are compared by their integer order (cast to long), matching
    the panel conventions of :func:`eventstudy.event_study`.
    """
    if control not in ("never_treated", "not_yet_treated"):
        raise ValueError("control must be 'never_treated' or "
                         "'not_yet_treated'")
    if base_period not in ("universal", "varying"):
        raise ValueError("base_period must be 'universal' or 'varying'")
    ucol = F.col(unit) if unit.isidentifier() else F.expr(unit)
    tcol = F.col(time) if time.isidentifier() else F.expr(time)
    acol = F.expr(adoption)
    y = F.expr(Y).cast("double")

    work = (df.where(ucol.isNotNull() & tcol.isNotNull() & y.isNotNull())
            .select(ucol.alias("__u"), tcol.cast("long").alias("__t"),
                    y.alias("__y"), acol.cast("long").alias("__a")))
    with ExitStack() as scope:
        cells = persist(scope, work.groupBy("__u", "__t").agg(
            F.avg("__y").alias("__y"), F.max("__a").alias("__a"),
            F.countDistinct("__a").alias("__ka"),
            F.count("__a").alias("__na"),
            F.count(F.lit(1)).alias("__nr")))
        # validity: adoption constant per unit (incl. no NULL/value mixing),
        # plus the small group/period domains — one aggregation each
        # validity + domain as two independent jobs over the CACHED cells,
        # overlapped on driver threads: one wall-clock step without the
        # unbounded flatten(collect_list) a single fused aggregation would
        # need (collect_set dedups map-side, so each job's buffers stay
        # O(distinct values) — a U×T panel must never funnel U arrays into
        # one aggregate buffer)
        from concurrent.futures import ThreadPoolExecutor

        def _chk():
            return (cells.groupBy("__u")
                    .agg(F.countDistinct("__a").alias("kd"),
                         F.max("__ka").alias("ka"),
                         F.sum("__na").alias("na"), F.sum("__nr").alias("nr"))
                    .agg(F.sum(((F.col("kd") > 1) | (F.col("ka") > 1)
                                | ((F.col("na") > 0)
                                   & (F.col("na") < F.col("nr"))))
                               .cast("int")).alias("bad"))
                    .collect()[0])

        def _dom():
            return cells.agg(
                F.sort_array(F.collect_set("__t")).alias("times"),
                F.sort_array(F.collect_set("__a")).alias("groups")
            ).collect()[0]

        with ThreadPoolExecutor(max_workers=2) as pool:
            chk_f, dom_f = pool.submit(_chk), pool.submit(_dom)
            chk, dom = chk_f.result(), dom_f.result()
        if int(chk["bad"] or 0) > 0:
            raise ValueError(
                f"adoption expression {adoption!r} is not constant within "
                f"{int(chk['bad'])} unit(s) (or mixes NULL and values); "
                "Callaway-Sant'Anna needs a unit-level adoption period")
        times = [int(t) for t in dom["times"]]
        groups = [int(g) for g in dom["groups"]]
        tset = set(times)
        prev = {t: times[i - 1] for i, t in enumerate(times) if i > 0}

        spec, skipped = [], []
        for g in groups:
            if g - 1 not in tset:
                skipped.append(g)
                continue
            for t in times:
                if base_period == "universal":
                    b = g - 1
                else:                      # varying: short pre-period diffs
                    b = g - 1 if t >= g else prev.get(t)
                    if b is None:
                        continue
                if t == b:
                    continue
                spec.append((len(spec), g, t, b))
        if skipped:
            warnings.warn(
                f"groups {skipped} have no pre-period (g-1 not observed) "
                "and were skipped", stacklevel=2)
        if not spec:
            raise ValueError("no estimable (group, time) cells: every group "
                             "lacks a pre-treatment base period")
        spark = df.sparkSession
        spec_df = spark.createDataFrame(spec,
                                        "cid INT, g LONG, t LONG, b LONG")

        c = cells.select("__u", "__t", "__y", "__a")
        j = c.join(F.broadcast(spec_df),
                   (c["__t"] == spec_df["t"]) | (c["__t"] == spec_df["b"]))
        ud = (j.groupBy("cid", "g", "t", "b", "__u")
              .agg(F.max(F.when(F.col("__t") == F.col("t"), F.col("__y")))
                   .alias("yt"),
                   F.max(F.when(F.col("__t") == F.col("b"), F.col("__y")))
                   .alias("yb"),
                   F.max("__a").alias("ga"))
              .where(F.col("yt").isNotNull() & F.col("yb").isNotNull())
              .withColumn("d", F.col("yt") - F.col("yb")))
        if control == "never_treated":
            ctrl = F.col("ga").isNull()
        else:
            ctrl = F.col("ga").isNull() | \
                (F.col("ga") > F.greatest(F.col("t"), F.col("b")))
        ud = persist(scope, ud.withColumn(
            "role", F.when(F.col("ga") == F.col("g"), 1).when(ctrl, 0))
            .where(F.col("role").isNotNull())
            .select("cid", "g", "t", "b", "__u", "d", "role"))

        one = F.lit(1)
        r1 = (F.col("role") == 1).cast("double")
        r0 = (F.col("role") == 0).cast("double")
        stats = (ud.groupBy("cid", "g", "t", "b")
                 .agg(F.sum(r1).alias("n1"),
                      F.sum(r1 * F.col("d")).alias("s1"),
                      F.sum(r1 * F.col("d") * F.col("d")).alias("ss1"),
                      F.sum(r0).alias("n0"),
                      F.sum(r0 * F.col("d")).alias("s0"),
                      F.sum(r0 * F.col("d") * F.col("d")).alias("ss0"))
                 .collect())
        zq = _zq(alpha)
        rows, cs_mean, thin_cells = [], {}, []
        for r in stats:
            n1, n0 = float(r["n1"]), float(r["n0"])
            if n1 < 2 or n0 < 2:
                # record it: a silently-vanished cell means the event-study /
                # group / overall aggregations run over a DIFFERENT cell set
                # than the user specified (the base-period skips already warn
                # and return in skipped_groups — same contract here)
                thin_cells.append((int(r["g"]), int(r["t"])))
                continue
            m1, m0 = r["s1"] / n1, r["s0"] / n0
            v1 = max(r["ss1"] - n1 * m1 * m1, 0.0) / (n1 - 1)
            v0 = max(r["ss0"] - n0 * m0 * m0, 0.0) / (n0 - 1)
            att = m1 - m0
            se = math.sqrt(v1 / n1 + v0 / n0)
            tstat = att / se if se > 0 else float("nan")
            # Welch-Satterthwaite df for the single-cell test
            num = (v1 / n1 + v0 / n0) ** 2
            den = (v1 / n1) ** 2 / (n1 - 1) + (v0 / n0) ** 2 / (n0 - 1)
            dof = num / den if den > 0 else n1 + n0 - 2
            p = float(2 * dist.t_sf(abs(tstat), dof)) if se > 0 \
                else float("nan")
            rows.append({"group": int(r["g"]), "time": int(r["t"]),
                         "base": int(r["b"]), "att": float(att),
                         "stderr": float(se), "t_stat": float(tstat),
                         "p_value": p, "lower": float(att - zq * se),
                         "upper": float(att + zq * se),
                         "n_treated": int(n1), "n_control": int(n0)})
            cs_mean[int(r["cid"])] = (int(r["g"]), int(r["t"]), float(m1),
                                      float(m0), n1, n0, float(att))
        if thin_cells:
            warnings.warn(
                f"callaway_santanna: {len(thin_cells)} (group, time) cell(s) "
                f"dropped for having < 2 treated or < 2 control units "
                f"{sorted(thin_cells)[:10]}"
                f"{'…' if len(thin_cells) > 10 else ''}"
                " — the event-study/group/overall aggregations cover the "
                "remaining cells only", stacklevel=2)
        if not rows:
            raise ValueError("no (group, time) cell has >= 2 treated and "
                             ">= 2 control units")
        att_gt = (pd.DataFrame(rows).sort_values(["group", "time"])
                  .reset_index(drop=True))

        # ---- aggregation weights (driver; |cells| is tiny) ----
        # targets: evt_<e> (all relative periods), grp_<g> (post cells,
        # equal weight over t), overall (post cells, weight ∝ n_treated —
        # the CS 'simple' aggregation)
        targets: dict[str, dict[int, float]] = {}
        for cid, (g, t, m1, m0, n1, n0, att) in cs_mean.items():
            e = t - g
            targets.setdefault(f"evt_{e}", {})[cid] = n1
            if e >= 0:
                targets.setdefault(f"grp_{g}", {})[cid] = 1.0
                targets.setdefault("overall", {})[cid] = n1
        for w in targets.values():
            tot = sum(w.values())
            for cid in w:
                w[cid] /= tot
        est = {name: sum(w * cs_mean[cid][6] for cid, w in ws.items())
               for name, ws in targets.items()}

        # ---- influence-function SEs for every aggregation in ONE pass ----
        tw = [(name, cid, w) for name, ws in targets.items()
              for cid, w in ws.items()]
        tw_df = spark.createDataFrame(tw, "target STRING, cid INT, w DOUBLE")
        cm = spark.createDataFrame(
            [(cid, v[2], v[3], v[4], v[5]) for cid, v in cs_mean.items()],
            "cid INT, m1 DOUBLE, m0 DOUBLE, n1 DOUBLE, n0 DOUBLE")
        contrib = F.when(F.col("role") == one,
                         (F.col("d") - F.col("m1")) / F.col("n1")) \
            .otherwise(-(F.col("d") - F.col("m0")) / F.col("n0"))
        psi = (ud.join(F.broadcast(cm), "cid")
               .join(F.broadcast(tw_df), "cid")
               .groupBy("target", "__u")
               .agg(F.sum(F.col("w") * contrib).alias("p"))
               .groupBy("target")
               .agg(F.sum(F.col("p") * F.col("p")).alias("v"))
               .collect())
        var = {r["target"]: float(r["v"]) for r in psi}

    def _row(name, label_key, label_val):
        b = float(est[name])
        se = math.sqrt(max(var.get(name, 0.0), 0.0))
        t = b / se if se > 0 else float("nan")
        p = float(2 * dist.norm_sf(abs(t))) if se > 0 else float("nan")
        return {label_key: label_val, "estimate": b, "stderr": se,
                "t_stat": t, "p_value": p, "lower": b - zq * se,
                "upper": b + zq * se}

    evt = sorted(int(n[4:]) for n in targets if n.startswith("evt_"))
    event_study = pd.DataFrame(
        [_row(f"evt_{e}", "rel_period", e) for e in evt])
    grp = sorted(int(n[4:]) for n in targets if n.startswith("grp_"))
    group = pd.DataFrame([_row(f"grp_{g}", "group", g) for g in grp])
    overall = _row("overall", "name", "overall")
    overall["att"] = overall.pop("estimate")
    return CSDidResult(att_gt=att_gt, event_study=event_study,
                       group=group, overall=overall, control=control,
                       base_period=base_period, skipped_groups=skipped)
