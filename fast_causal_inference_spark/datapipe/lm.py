"""N-gram language-model quality scoring (CCNet-style perplexity
filtering).

CCNet (Wenzek et al. 2020) and most published pretraining pipelines rank
web documents by the perplexity of a language model trained on a trusted
corpus; low-perplexity documents are "Wikipedia-like", high-perplexity
ones are boilerplate/gibberish. The production recipe uses KenLM; this
module implements the same signal as a **fully relational add-k-smoothed
bigram model** so it runs inside Catalyst with no model binary and no
UDF:

* **train**: one explode over the trusted corpus → map-side-combined
  bigram and unigram count relations (compressed: one row per distinct
  gram, never per token);
* **score**: explode the target corpus' bigrams → left join the count
  relations (broadcast when the LM vocabulary is small, plain hash join
  otherwise) → per-document mean log-probability via one groupBy.

Laplace (add-k) smoothing keeps out-of-vocabulary bigrams finite:
``p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` with V the unigram
vocabulary size. Perplexity = exp(−mean log p) over the document's
bigrams; documents shorter than 2 tokens score NULL (no bigram
evidence).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.design import persist
from .text import bind_once, tokens

__all__ = ["train_bigram_lm", "score_perplexity", "perplexity_filter",
           "train_trigram_lm", "score_trigram_perplexity"]


def _bigrams(text_col):
    """(w1, w2) adjacent-token pairs of normalized text."""
    return bind_once(tokens(text_col), lambda tk: F.when(
        F.size(tk) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.struct(
                        F.element_at(tk, i).alias("w1"),
                        F.element_at(tk, i + 1).alias("w2"))))
        .otherwise(F.array()))


def _spawn_action(res: dict, key, fn) -> "threading.Thread":
    """Run one Spark action on a thread, storing the result (or the
    exception, re-raised by the caller) under ``key`` — the one shared
    concurrent-materialization mechanism for both LM trainers."""
    import threading

    def go():
        try:
            res[key] = fn()
        except BaseException as exc:          # noqa: BLE001 — re-raised
            res[key] = exc
    th = threading.Thread(target=go)
    th.start()
    return th


def train_bigram_lm(df: DataFrame, text_col: str = "text") -> dict:
    """Train an add-k-ready bigram LM on a trusted corpus.

    Returns ``{"bigrams": DataFrame(w1, w2, c12), "unigrams":
    DataFrame(w1, c1), "vocab_size": int}`` — count RELATIONS, not a
    driver-side model, so the trusted corpus can be arbitrarily large.
    """
    n_parts = int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    toks = (df.repartition(n_parts)
            .select(F.explode(_bigrams(F.col(text_col))).alias("bg"))
            .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
            .where((F.col("w1") != "") & (F.col("w2") != "")))
    # cache both count relations: training already pays a mandatory
    # action (the vocab count), and every scoring/filter pass re-reads
    # them — without the cache each downstream action re-aggregates the
    # trusted corpus (the repo-wide reused-subtree convention).  The
    # scope releases them if training raises; on success pop_all hands
    # them to the caller with the model
    with ExitStack() as scope:
        bigrams = persist(scope, toks.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c12")))
        unis = persist(scope, df.select(
            F.explode(tokens(F.col(text_col))).alias("w1"))
            .where(F.col("w1") != "")
            .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
        # materialize both count relations concurrently — they are independent
        # aggregations of the same trusted corpus; thread exceptions are
        # re-raised on the caller so a Spark failure isn't masked (shared
        # _spawn_action helper — the trigram trainer uses the same one)
        res: dict = {}
        threads = [_spawn_action(res, "v", unis.count),
                   _spawn_action(res, "b", bigrams.count)]
        for th in threads:
            th.join()
        for v in res.values():
            if isinstance(v, BaseException):
                raise v
        if int(res["v"]) == 0:
            raise ValueError(
                "train_bigram_lm: the trusted corpus has no non-empty tokens"
                " — a vocab_size of 0 would make every add-k denominator 0 "
                "at scoring time")
        scope.pop_all()
    return {"bigrams": bigrams, "unigrams": unis,
            "vocab_size": int(res["v"])}


def scored_bigram_logprobs(df: DataFrame, lm: dict, text_col: str,
                           key_cols: list, k: float,
                           broadcast_lm: bool | None) -> DataFrame:
    """Shared scoring core for the batch and streaming perplexity
    operators: explode the corpus' bigrams, LEFT-join the LM count
    relations, and aggregate mean add-k log-probability per key tuple.
    Keeping ONE implementation pins the streaming scorer to the batch
    semantics the stream-vs-batch agreement test checks."""
    V = lm["vocab_size"]
    bg_rel, uni_rel = lm["bigrams"], lm["unigrams"]
    if broadcast_lm:
        bg_rel, uni_rel = F.broadcast(bg_rel), F.broadcast(uni_rel)
    doc_bg = (df.select(*[F.col(c) for c in key_cols],
                        F.explode(_bigrams(F.col(text_col))).alias("bg"))
              .select(*key_cols, F.col("bg.w1").alias("w1"),
                      F.col("bg.w2").alias("w2"))
              .where((F.col("w1") != "") & (F.col("w2") != "")))
    joined = (doc_bg.join(bg_rel, ["w1", "w2"], "left")
              .join(uni_rel, "w1", "left")
              .withColumn("c12", F.coalesce("c12", F.lit(0)))
              .withColumn("c1", F.coalesce("c1", F.lit(0))))
    logp = F.log((F.col("c12") + F.lit(float(k)))
                 / (F.col("c1") + F.lit(float(k) * V)))
    return (joined.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.avg(logp).alias("logprob"))
            .withColumn("ppl", F.exp(-F.col("logprob"))))


def score_perplexity(df: DataFrame, lm: dict, text_col: str = "text",
                     id_col: str = "doc_id", k: float = 1.0,
                     broadcast_lm: bool | None = None) -> DataFrame:
    """Per-document bigram perplexity under a trained LM.

    Output: the input's ``id_col`` plus ``n_bigrams``, ``logprob``
    (mean natural-log probability) and ``ppl`` (exp(−logprob); NULL for
    documents with no bigram). ``broadcast_lm=True`` forces broadcast of
    the count relations (right for a bounded trusted vocabulary);
    ``None`` lets Catalyst/AQE decide from sizes.
    """
    scored = scored_bigram_logprobs(df, lm, text_col, [id_col], k,
                                    broadcast_lm)
    return (df.select(id_col).distinct()
            .join(scored, id_col, "left")
            .withColumn("n_bigrams",
                        F.coalesce("n_bigrams", F.lit(0))))


def perplexity_filter(df: DataFrame, lm: dict, max_ppl: float,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: float = 1.0) -> DataFrame:
    """Keep documents whose perplexity under the trusted-corpus LM is at
    most ``max_ppl`` (the CCNet head/middle cut). Documents with no
    bigram evidence are dropped (no basis to keep them)."""
    # score directly — score_perplexity's distinct-id scan + left join
    # exists only to resurface zero-bigram docs as NULL-ppl rows, which
    # this filter would drop anyway; skipping it saves a full corpus
    # scan + shuffle per call
    scored = scored_bigram_logprobs(df, lm, text_col, [id_col], k, None)
    keep = scored.where(F.col("ppl") <= max_ppl).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Interpolated trigram model (closer to CCNet's higher-order KenLM than
# the add-k bigram above, still fully relational)
# ---------------------------------------------------------------------------


def _trigrams(text_col):
    """(w1, w2, w3) adjacent-token triples of normalized text."""
    return bind_once(tokens(text_col), lambda tk: F.when(
        F.size(tk) >= 3,
        F.transform(F.sequence(F.lit(1), F.size(tk) - 2),
                    lambda i: F.struct(
                        F.element_at(tk, i).alias("w1"),
                        F.element_at(tk, i + 1).alias("w2"),
                        F.element_at(tk, i + 2).alias("w3"))))
        .otherwise(F.array()))


def train_trigram_lm(df: DataFrame, text_col: str = "text") -> dict:
    """Jelinek-Mercer interpolated trigram LM over a trusted corpus:
    count RELATIONS for orders 1-3 (one row per distinct gram), all three
    materialized concurrently.  Model = {"trigrams", "bigrams",
    "unigrams" DataFrames, "n_tokens", "vocab_size"}."""
    import threading

    # repartition per explode branch (a shared repartitioned frame would
    # re-execute its shuffle once per concurrent action — exchanges are
    # not reused across jobs); the unigram branch reads df directly
    n_parts = int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    src = df
    # cached count relations: released if training raises, handed to
    # the caller with the model on success (train_bigram_lm)
    with ExitStack() as scope:
        tg = persist(scope, src.repartition(n_parts)
                     .select(F.explode(_trigrams(F.col(text_col))).alias("g"))
                     .select("g.w1", "g.w2", "g.w3")
                     .where((F.col("w1") != "") & (F.col("w2") != "")
                            & (F.col("w3") != ""))
                     .groupBy("w1", "w2", "w3")
                     .agg(F.count(F.lit(1)).alias("c123")))
        bg = persist(scope, src.repartition(n_parts)
                     .select(F.explode(_bigrams(F.col(text_col))).alias("g"))
                     .select("g.w1", "g.w2")
                     .where((F.col("w1") != "") & (F.col("w2") != ""))
                     .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
        uni = persist(scope, src.select(
            F.explode(tokens(F.col(text_col))).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))
        res: dict = {}
        threads = [_spawn_action(res, "tg", tg.count),
                   _spawn_action(res, "bg", bg.count),
                   _spawn_action(res, "uni", lambda: uni.agg(
                       F.count(F.lit(1)).alias("v"),
                       F.sum("c1").alias("n")).collect()[0])]
        for th in threads:
            th.join()
        for v in res.values():
            if isinstance(v, BaseException):
                raise v
        if res["uni"]["n"] is None or int(res["uni"]["v"]) == 0:
            raise ValueError(
                "train_trigram_lm: the trusted corpus has no non-empty "
                "tokens (sum of counts is NULL) — nothing to train on")
        scope.pop_all()
    return {"trigrams": tg, "bigrams": bg, "unigrams": uni,
            "vocab_size": int(res["uni"]["v"]),
            "n_tokens": int(res["uni"]["n"])}


def score_trigram_perplexity(df: DataFrame, lm: dict,
                             text_col: str = "text",
                             id_cols: list | None = None,
                             lambdas: tuple = (0.7, 0.2, 0.1),
                             broadcast_lm: bool | None = None) -> DataFrame:
    """Per-document perplexity under the interpolated trigram model:
    p(w3|w1w2) = λ₃·c123/c12 + λ₂·c23/c2 + λ₁·c3/N, with each term
    dropping out when its context is unseen and a 1/(N+V) floor so
    fully-unseen words stay finite (standard Jelinek-Mercer with a
    uniform-smoothing floor).

    Plan shape: explode the document trigrams once; FOUR left equi-joins
    against the count relations (``broadcast_lm=True`` forces broadcast —
    right for a bounded trusted vocabulary; the default lets Catalyst
    choose by size, since the trigram relation is the module's largest) — (w1,w2,w3), context
    (w1,w2), the (w2,w3) bigram, and the w2/w3 unigrams — then one
    map-side-combined groupBy(doc).  Documents with < 3 tokens score
    NULL."""
    l3, l2, l1 = (float(x) for x in lambdas)
    if abs(l3 + l2 + l1 - 1.0) > 1e-9:
        raise ValueError("lambdas must sum to 1")
    id_cols = list(id_cols or ["doc_id"])
    N, V = lm["n_tokens"], lm["vocab_size"]
    tg_rel, bg_rel, uni_rel = lm["trigrams"], lm["bigrams"], lm["unigrams"]
    if broadcast_lm:
        tg_rel, bg_rel, uni_rel = (F.broadcast(tg_rel), F.broadcast(bg_rel),
                                   F.broadcast(uni_rel))
    doc = (df.select(*id_cols,
                     F.explode(_trigrams(F.col(text_col))).alias("g"))
           .select(*id_cols, "g.w1", "g.w2", "g.w3")
           .where((F.col("w1") != "") & (F.col("w2") != "")
                  & (F.col("w3") != "")))
    ctx = bg_rel.select(F.col("w1"), F.col("w2"),
                        F.col("c12").alias("c_ctx"))
    b23 = bg_rel.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                        F.col("c12").alias("c23"))
    u2 = uni_rel.select(F.col("w").alias("w2"), F.col("c1").alias("c2"))
    u3 = uni_rel.select(F.col("w").alias("w3"), F.col("c1").alias("c3"))
    j = (doc.join(tg_rel, ["w1", "w2", "w3"], "left")
         .join(ctx, ["w1", "w2"], "left")
         .join(b23, ["w2", "w3"], "left")
         .join(u2, ["w2"], "left")
         .join(u3, ["w3"], "left"))
    term3 = F.when(F.coalesce(F.col("c_ctx"), F.lit(0)) > 0,
                   F.lit(l3) * F.coalesce(F.col("c123"), F.lit(0))
                   / F.col("c_ctx")).otherwise(0.0)
    term2 = F.when(F.coalesce(F.col("c2"), F.lit(0)) > 0,
                   F.lit(l2) * F.coalesce(F.col("c23"), F.lit(0))
                   / F.col("c2")).otherwise(0.0)
    term1 = F.lit(l1) * F.coalesce(F.col("c3"), F.lit(0)) / F.lit(float(N))
    p = F.greatest(term3 + term2 + term1, F.lit(1.0 / (N + V)))
    agg = (j.groupBy(*id_cols)
           .agg(F.count(F.lit(1)).alias("n_trigrams"),
                F.avg(F.log(p)).alias("logprob")))
    out = df.join(agg, id_cols, "left")
    return (out.withColumn("n_trigrams",
                           F.coalesce("n_trigrams", F.lit(0)))
            .withColumn("ppl", F.exp(-F.col("logprob"))))
