"""Independent DuckDB references and the result checks against them.

The references are computed once per input (seed, size) from the same
parquet files the program reads, with plain SQL aggregates and numpy
solves, and cached next to the input.  Each check returns ``None`` when
the program's result agrees and a one-line reason when it does not; a
mismatch counts as a failed call.

Tolerances (relative unless stated):

* closed-form statistics (SRM chi-square, t-tests, delta method, xexpt,
  Mann-Whitney U): 1e-7 — only float summation order differs;
* CUPED t-test: 1e-6 (θ is a ratio of two summed covariances);
* OLS, T-learner and DML coefficients: 1e-6 against SQL normal-equation
  sums solved in numpy;
* logistic regression: the score equations X'(y - μ̂) evaluated in DuckDB
  at the returned β must vanish, max |score_j| / n <= 1e-6;
* bootstrap: B replicas, each within 6 standard errors of the mean;
* causal forest: the requested number of trees, depth <= max_depth, at
  least one split;
* n-gram Jaccard pairs: the exact pair set of the DuckDB self-join, and
  Jaccard equal to 1e-6 absolute;
* MinHash (threshold 0.7): recall >= 0.95 on planted pairs with Jaccard
  >= 0.8; SimHash (Hamming <= 3, a near-exact-duplicate detector): recall
  >= 0.9 on planted pairs with Jaccard >= 0.95; both: every returned pair
  a planted one (unrelated documents share almost no 3-grams);
* exact dedup and connected components: exactly the reference sets.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

from gen import COVARIATES
from workloads import (
    BOOT_B,
    FOREST_DEPTH,
    FOREST_TREES,
    LOGIT_FORMULA,
    OLS_FORMULA,
    TLEARNER_FEATURES,
)

REL_STAT = 1e-7
REL_CUPED = 1e-6
REL_COEF = 1e-6
SCORE_TOL = 1e-6
BOOT_SE = 6.0
# (min recall, over planted pairs with at least this Jaccard)
RECALL = {"minhash_lsh_pairs": (0.95, 0.8), "simhash_pairs": (0.9, 0.95)}
NGRAM_THRESHOLD = 0.5
JACCARD_ABS = 1e-6


def _rhs(formula: str) -> tuple[str, list[str]]:
    y, rhs = formula.split("~")
    return y.strip(), [t.strip() for t in rhs.split("+")]


def _con(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, '*.parquet')}')")
    return con


def _packed_sums(con, y: str, xs: list[str],
                 group: str | None = None) -> dict:
    """Per group: the upper triangle of X'X, then X'y, for X = [1, xs]."""
    cols = ["1"] + xs
    terms = [f"sum(({a})::DOUBLE * ({b}))" for i, a in enumerate(cols)
             for b in cols[i:]]
    terms += [f"sum(({a})::DOUBLE * ({y}))" for a in cols]
    if group is None:
        return {None: np.array(con.execute(
            f"SELECT {', '.join(terms)} FROM t").fetchone(), dtype=float)}
    rows = con.execute(f"SELECT {group}, {', '.join(terms)} FROM t "
                       "GROUP BY 1").fetchall()
    return {r[0]: np.array(r[1:], dtype=float) for r in rows}


def _solve_packed(vals: np.ndarray, p: int) -> np.ndarray:
    """Solve the normal equations packed by :func:`_packed_sums`."""
    xtx = np.zeros((p, p))
    k = 0
    for i in range(p):
        for j in range(i, p):
            xtx[i, j] = xtx[j, i] = vals[k]
            k += 1
    return np.linalg.solve(xtx, vals[k:k + p])


def experiment_refs(data_dir: str) -> dict:
    con = _con(data_dir)
    ref: dict = {}
    arms = {int(r[0]): r[1:] for r in con.execute(
        "SELECT arm, count(*), avg(y), var_samp(y), avg(pre), var_samp(pre),"
        " covar_samp(y, pre), avg(clicks), avg(views), var_samp(clicks),"
        " var_samp(views), covar_samp(clicks, views), sum(clicks),"
        " sum(views) FROM t GROUP BY arm").fetchall()}
    n = {a: float(arms[a][0]) for a in (0, 1)}
    total = n[0] + n[1]
    ref["srm_chisq"] = sum((n[a] - total / 2) ** 2 / (total / 2)
                           for a in (0, 1))
    m = {a: arms[a][1] for a in (0, 1)}
    v = {a: arms[a][2] / n[a] for a in (0, 1)}
    est = m[1] - m[0]
    se = math.sqrt(v[0] + v[1])
    ref["ttest"] = {"estimate": est, "stderr": se, "t_stat": est / se}
    cov_yx, var_x = con.execute(
        "SELECT covar_samp(y, pre), var_samp(pre) FROM t").fetchone()
    theta = cov_yx / var_x
    pre_all = con.execute("SELECT avg(pre) FROM t").fetchone()[0]
    madj, vadj = {}, {}
    for a in (0, 1):
        _, my, vy, mx, vx, cxy = arms[a][:6]
        madj[a] = my - theta * (mx - pre_all)
        vadj[a] = (vy + theta * theta * vx - 2 * theta * cxy) / n[a]
    est = madj[1] - madj[0]
    se = math.sqrt(vadj[0] + vadj[1])
    ref["ttest_cuped"] = {"estimate": est, "stderr": se, "t_stat": est / se}
    ref["delta_std"] = {}
    ref["xexpt"] = {}
    for a in (0, 1):
        mc, mv, vc, vv, cv, sc, sv = arms[a][6:]
        var = (vc / mv ** 2 - 2 * mc * cv / mv ** 3
               + mc ** 2 * vv / mv ** 4) / n[a]
        ref["delta_std"][str(a)] = math.sqrt(var)
        ref["xexpt"][f"mean{a}"] = sc / sv
    ref["xexpt"]["diff"] = ref["xexpt"]["mean1"] - ref["xexpt"]["mean0"]
    r1 = con.execute(
        "SELECT sum(r) FROM (SELECT arm, rank() OVER (ORDER BY y)"
        " + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS r FROM t)"
        " WHERE arm = 1").fetchone()[0]
    ref["mw_u1"] = float(r1) - n[1] * (n[1] + 1) / 2
    y, xs = _rhs(OLS_FORMULA)
    ref["ols_beta"] = _solve_packed(_packed_sums(con, y, xs)[None],
                                    len(xs) + 1).tolist()
    p = len(TLEARNER_FEATURES) + 1
    ref["tlearner_beta"] = {
        str(k): _solve_packed(v, p).tolist() for k, v in
        _packed_sums(con, "y", TLEARNER_FEATURES, group="arm").items()}
    # DML: out-of-fold nuisance fits from per-fold sums (total minus fold),
    # then the final stage slope of y-residual on t-residual
    folds = {}
    p = len(COVARIATES) + 1
    for target in ("y", "arm"):
        per = _packed_sums(con, target, COVARIATES, group="user_id % 3")
        tot = sum(per.values())
        for f, s in per.items():
            folds.setdefault(f, {})[target] = _solve_packed(tot - s, p)
    cases = {}
    for target in ("y", "arm"):
        arms_sql = " ".join(
            f"WHEN {f} THEN " + " + ".join(
                [repr(float(b[0]))] + [f"{float(c)!r} * {x}" for c, x in
                                        zip(b[1:], COVARIATES)])
            for f, fb in folds.items() for b in [fb[target]])
        cases[target] = f"{target} - (CASE user_id % 3 {arms_sql} END)"
    ref["dml_theta"] = con.execute(
        f"SELECT regr_slope({cases['y']}, {cases['arm']}) FROM t"
    ).fetchone()[0]
    ref["y_mean"], ref["y_sd"], ref["rows"] = con.execute(
        "SELECT avg(y), stddev_samp(y), count(*) FROM t").fetchone()
    con.close()
    return ref


NGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM t
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(tk) - 2, 1) + 1),
           i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS grams
  FROM toks
), inv AS (
  SELECT doc_id, length(grams) AS n_sh, unnest(grams) AS g FROM sh
), common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         any_value(l.n_sh) AS na, any_value(r.n_sh) AS nb,
         count(*) AS inter
  FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM common
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {threshold}
ORDER BY 1, 2
"""


def corpus_refs(data_dir: str) -> dict:
    """Exact-dedup survivors, the n-gram Jaccard pair set (same shape as
    the repository's DuckDB oracle) and its connected components."""
    con = _con(data_dir)
    keep = [int(r[0]) for r in con.execute(
        "SELECT min(doc_id) FROM t GROUP BY md5(text) ORDER BY 1").fetchall()]
    pairs = [[int(a), int(b), float(j)] for a, b, j in con.execute(
        NGRAM_SQL.format(threshold=NGRAM_THRESHOLD)).fetchall()]
    con.close()
    return {"exact_keep": keep, "ngram_pairs": pairs,
            "components": _components([(a, b) for a, b, _ in pairs])}


def _components(edges: list[tuple[int, int]]) -> dict[str, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {str(x): find(x) for x in parent}


def load_refs(kind: str, manifest: dict) -> dict:
    """The cached reference for an input, computed on first use."""
    path = os.path.join(os.path.dirname(manifest["data"]), "refs.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    ref = (experiment_refs if kind == "experiment" else corpus_refs)(
        manifest["data"])
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ref, fh)
    os.replace(tmp, path)
    return ref


# ---------------------------------------------------------------------------
# checks: (name, result, ref, ctx) -> None | reason
# ---------------------------------------------------------------------------


def _close(got, want, rel: float) -> bool:
    got = np.asarray(got, dtype=float)
    want = np.asarray(want, dtype=float)
    return got.shape == want.shape and bool(np.all(
        np.abs(got - want) <= rel * np.maximum(np.abs(want), 1e-12)))


def _stat_check(row: dict, want: dict, rel: float) -> str | None:
    for k, w in want.items():
        if not _close(row[k], w, rel):
            return f"{k}={row[k]!r} want {w!r}"
    return None


def _score_check(beta, data_dir: str) -> str | None:
    y, xs = _rhs(LOGIT_FORMULA)
    eta = " + ".join([repr(float(beta[0]))] + [
        f"{float(b)!r} * {x}" for b, x in zip(beta[1:], xs)])
    res = f"({y} - 1.0 / (1.0 + exp(-({eta}))))"
    con = _con(data_dir)
    row = con.execute("SELECT count(*), " + ", ".join(
        f"sum(({x}) * {res})" for x in ["1"] + xs) + " FROM t").fetchone()
    con.close()
    worst = max(abs(s) for s in row[1:]) / row[0]
    return None if worst <= SCORE_TOL else f"max |score|/n = {worst:.3g}"


def _forest_check(forest) -> str | None:
    trees = forest.trees_
    if len(trees) != FOREST_TREES:
        return f"{len(trees)} trees"
    splits = 0
    for nodes in trees:
        depth = {0: 0}
        for nid in sorted(nodes):
            node = nodes[nid]
            if node.feature is not None:
                splits += 1
                for child in (node.left, node.right):
                    depth[child] = depth[nid] + 1
        if max(depth.values()) > FOREST_DEPTH:
            return f"depth {max(depth.values())}"
    return None if splits else "no split"


def check_ab(name: str, res, ref: dict, data_dir: str) -> str | None:
    if name == "srm":
        got = float(res["chisquare"].iloc[0])
        return None if _close(got, ref["srm_chisq"], REL_STAT) else \
            f"chisquare={got!r} want {ref['srm_chisq']!r}"
    if name in ("ttest_2samp", "sql_ttest_2samp"):
        return _stat_check(res[0], ref["ttest"], REL_STAT)
    if name == "ttest_2samp_cuped":
        return _stat_check(res[0], ref["ttest_cuped"], REL_CUPED)
    if name in ("delta_method", "sql_delta_method"):
        got = {str(int(r["arm"])): r["std"] for r in res}
        return _stat_check(got, ref["delta_std"], REL_STAT)
    if name == "xexpt_ttest_2samp":
        return _stat_check(res.iloc[0].to_dict(), ref["xexpt"], REL_STAT)
    if name == "mann_whitney_utest":
        got = float(res["u1"].iloc[0])
        return None if _close(got, ref["mw_u1"], REL_STAT) else \
            f"u1={got!r} want {ref['mw_u1']!r}"
    if name in ("ols", "sql_ols"):
        return None if _close(res.beta, ref["ols_beta"], REL_COEF) else \
            f"beta={list(res.beta)} want {ref['ols_beta']}"
    if name == "logistic_regression":
        if not res.converged:
            return "IRLS did not converge"
        return _score_check(res.beta, data_dir)
    if name == "linear_dml":
        got = float(res.theta[0])
        return None if _close(got, ref["dml_theta"], REL_COEF) else \
            f"theta={got!r} want {ref['dml_theta']!r}"
    if name == "boot_strap":
        vals = [r["value"] for r in res]
        se = ref["y_sd"] / math.sqrt(ref["rows"])
        if len(vals) != BOOT_B:
            return f"{len(vals)} replicas"
        off = max(abs(v - ref["y_mean"]) for v in vals) / se
        return None if off <= BOOT_SE else f"replica {off:.1f} SE off"
    if name == "tlearner_fit":
        for arm, model in (("0", res.model0_), ("1", res.model1_)):
            if not _close(model.beta, ref["tlearner_beta"][arm], REL_COEF):
                return f"arm {arm} beta={list(model.beta)}"
        return None
    if name == "causal_forest_fit":
        return _forest_check(res)
    return f"no check for {name}"


def check_dedup(name: str, res, ref: dict, manifest: dict) -> str | None:
    if name == "exact_dedup":
        return None if res == ref["exact_keep"] else \
            f"{len(res)} kept, want {len(ref['exact_keep'])}"
    if name == "ngram_jaccard_pairs":
        want = ref["ngram_pairs"]
        if [(a, b) for a, b, _ in res] != [(a, b) for a, b, _ in want]:
            return f"{len(res)} pairs, want {len(want)}"
        worst = max((abs(g[2] - w[2]) for g, w in zip(res, want)),
                    default=0.0)
        return None if worst <= JACCARD_ABS else f"jaccard off {worst:.3g}"
    if name in ("minhash_lsh_pairs", "simhash_pairs"):
        got = set(map(tuple, res))
        planted = {(a, b) for a, b, _ in manifest["planted"]}
        min_recall, min_jaccard = RECALL[name]
        true = {(a, b) for a, b, j in manifest["planted"] if j >= min_jaccard}
        recall = len(got & true) / max(len(true), 1)
        if recall < min_recall:
            return f"recall {recall:.3f} on {len(true)} planted pairs"
        stray = got - planted
        return None if not stray else f"{len(stray)} unplanted pairs"
    if name == "connected_components":
        want = {int(k): v for k, v in ref["components"].items()}
        return None if res == want else \
            f"{len(res)} labelled ids, want {len(want)}"
    return f"no check for {name}"

