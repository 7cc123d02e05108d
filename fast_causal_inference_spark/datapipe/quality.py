"""Training-data quality operators: benchmark decontamination, PII
detection/redaction, and repetition/boilerplate profiling.

The reference engine stops at causal analytics; these operators implement the
published data-pipeline rules a 100 TB pretraining corpus needs on top of the
dedup family in :mod:`.dedup` — n-gram benchmark-overlap decontamination
(GPT-3 appendix C / PaLM-style 13-gram rule), regex PII scanning, and the
Gopher / RefinedWeb repetition signals (duplicate-line and top-n-gram
character fractions).

Everything row-wise is a pure Column expression (whole-stage codegen, no
Python in the row path); the two relational operators shuffle only compressed
relations (distinct benchmark n-gram hashes; per-document top n-grams).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.design import persist
from .dedup import shingle_hashes
from .text import bind_once, word_ngrams

__all__ = [
    "PII_PATTERNS", "pii_count", "pii_profile", "pii_redact",
    "doc_lines", "dup_line_frac", "dup_line_char_frac", "word_ngrams",
    "repetition_profile", "contamination_overlap", "decontaminate",
    "normalize_url", "url_host", "registered_domain", "url_dedup",
    "domain_filter",
]

# Patterns are kept in the common subset of Java regex (Spark) and RE2
# (DuckDB/ClickHouse): no lookaround, no backreferences — so the same
# pattern string is portable to an oracle or another engine.
#
# Scope decisions (false-positive budget): phone requires separators or
# parentheses — a bare 10-digit run is far more often an id/timestamp than
# a phone number; credit_card accepts separated 4×4, unseparated 16-digit,
# and 15-digit Amex PANs; ipv4 range-checks each octet (0–255) but, like
# any context-free IPv4 regex, still matches version-like dotted quads.
_IPV4_OCTET = r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "credit_card": (r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b"
                    r"|\b3[47]\d{13}\b|\b\d{16}\b"),
    "phone": (r"\+?\b\d{1,2}[-. ]\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b"
              r"|\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b"
              r"|\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
    "ipv4": rf"\b{_IPV4_OCTET}\.{_IPV4_OCTET}\.{_IPV4_OCTET}\.{_IPV4_OCTET}\b",
}

# redaction order matters: most-specific first so e.g. a credit-card run is
# not half-eaten by the phone pattern
_REDACT_ORDER = ["email", "credit_card", "ssn", "phone", "ipv4"]


def pii_count(text: Column | str, kind: str) -> Column:
    """Number of matches of one PII pattern (see :data:`PII_PATTERNS`)."""
    c = F.col(text) if isinstance(text, str) else text
    try:
        pat = PII_PATTERNS[kind]
    except KeyError:
        raise ValueError(
            f"unknown PII kind {kind!r}; choose from {sorted(PII_PATTERNS)}")
    return F.regexp_count(c, F.lit(pat))


def pii_profile(df: DataFrame, text_col: str = "text",
                kinds: list[str] | None = None) -> DataFrame:
    """Attach ``pii_<kind>_cnt`` columns plus ``pii_total`` — a scan-only
    profile (no shuffle; runs inside whatever aggregation the caller adds)."""
    kinds = list(kinds) if kinds is not None else list(PII_PATTERNS)
    out = df
    for k in kinds:
        out = out.withColumn(f"pii_{k}_cnt", pii_count(F.col(text_col), k))
    total: Column = F.lit(0)
    for k in kinds:
        total = total + F.col(f"pii_{k}_cnt")
    return out.withColumn("pii_total", total)


def pii_redact(text: Column | str, kinds: list[str] | None = None,
               token: str = "[PII]") -> Column:
    """Replace every PII match with ``token`` (chained ``regexp_replace``,
    most-specific pattern first)."""
    c = F.col(text) if isinstance(text, str) else text
    chosen = [k for k in _REDACT_ORDER if kinds is None or k in kinds]
    if kinds is not None:
        unknown = set(kinds) - set(_REDACT_ORDER)
        if unknown:
            raise ValueError(f"unknown PII kinds {sorted(unknown)}")
    for k in chosen:
        c = F.regexp_replace(c, PII_PATTERNS[k], token)
    return c


# ---------------------------------------------------------------------------
# repetition / boilerplate (Gopher §A.1.1 signals)
# ---------------------------------------------------------------------------
def doc_lines(text: Column | str) -> Column:
    """Non-empty trimmed lines of a document (CRLF/CR/LF line endings;
    lines of pure whitespace — including the stray \\r a \\n-only
    split would leave on every CRLF line — count as empty, so Windows-
    formatted documents are not falsely flagged by the Gopher
    repetition signals)."""
    c = F.col(text) if isinstance(text, str) else text
    parts = F.transform(F.split(c, r"\r\n|\r|\n"),
                        lambda l: F.regexp_replace(l, r"^\s+|\s+$", ""))
    return F.filter(parts, lambda l: F.length(l) > 0)


def dup_line_frac(text: Column | str) -> Column:
    """Fraction of lines that are duplicates of an earlier line
    (0.0 for empty documents)."""
    ls = doc_lines(text)
    n = F.size(ls)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(ls))) / n)


def dup_line_char_frac(text: Column | str) -> Column:
    """Fraction of line characters that sit inside duplicated lines.

    Per-row O(distinct_lines × lines) higher-order aggregation — documents
    have bounded line counts, so this stays a scan-only signal; corpus-wide
    boilerplate detection (the same line across MANY documents) is the
    relational :func:`repetition_profile` instead.
    """
    def frac(ls: Column) -> Column:
        total = F.aggregate(ls, F.lit(0).cast("long"),
                            lambda acc, l: acc + F.length(l))
        # every occurrence of a duplicated line contributes its chars once —
        # one occurrence-count filter per element (HOF lambdas are
        # interpreted, no CSE, so the count must not be written twice)
        dup = F.aggregate(
            ls, F.lit(0).cast("long"),
            lambda acc, l: acc + F.when(
                F.size(F.filter(ls, lambda x: x == l)) > 1, F.length(l))
            .otherwise(F.lit(0)))
        return F.when(total == 0, F.lit(0.0)).otherwise(dup / total)

    # let-bound: the closure reference inside the aggregate/filter lambdas
    # would otherwise re-split the document into lines per element
    return bind_once(doc_lines(text), frac)


def repetition_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", ngram_n: int = 2) -> DataFrame:
    """Per-document top-n-gram repetition stats (Gopher's
    ``top_ngram_char_frac``): the character fraction covered by the single
    most frequent word n-gram.

    Relational plan: explode n-grams → one map-side-combined count per
    (doc, gram) → ``max_by`` per doc (ties break to the lexicographically
    largest gram, deterministic) → broadcast-safe join back on the id.  The
    shuffle carries one row per distinct (doc, gram) — compressed, never the
    corpus text.
    """
    grams = (df.select(F.col(id_col),
                       F.explode(word_ngrams(F.col(text_col), ngram_n))
                       .alias("gram"))
             .where(F.length("gram") > 0))
    top = (grams.groupBy(id_col, "gram")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .groupBy(id_col)
           .agg(F.max(F.struct("cnt", "gram")).alias("m"))
           .select(id_col, F.col("m.gram").alias("top_ngram"),
                   F.col("m.cnt").alias("top_ngram_cnt")))
    base = df.withColumn("__n_chars",
                         F.length(F.trim(F.lower(F.col(text_col)))))
    out = (base.join(top, id_col, "left")
           .withColumn("top_ngram_cnt", F.coalesce("top_ngram_cnt", F.lit(0)))
           .withColumn(
               "top_ngram_char_frac",
               # NULL text stays NULL (like dup_line_frac on the same
               # row): least() SKIPS NULL args, so the otherwise branch
               # turned least(1.0, NULL) into 1.0 — every NULL-text doc
               # read as maximally repetitive under a Gopher-style cut
               F.when(F.col("__n_chars").isNull(),
                      F.lit(None).cast("double"))
               .when(F.col("__n_chars") == 0, F.lit(0.0)).otherwise(
                   F.least(F.lit(1.0),
                           F.col("top_ngram_cnt") * F.length("top_ngram")
                           / F.col("__n_chars"))))
           .drop("__n_chars"))
    return (out.withColumn("dup_line_frac", dup_line_frac(F.col(text_col)))
            .withColumn("dup_line_char_frac",
                        dup_line_char_frac(F.col(text_col))))


# ---------------------------------------------------------------------------
# benchmark decontamination (GPT-3 appendix C / PaLM 13-gram rule)
# ---------------------------------------------------------------------------
def contamination_overlap(corpus: DataFrame, benchmark: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = 13,
                          benchmark_text_col: str | None = None,
                          broadcast_benchmark: bool = True) -> DataFrame:
    """Per-corpus-document count of distinct word n-grams shared with ANY
    benchmark document → ``(id_col, n_overlap_grams)``, only docs with ≥1
    overlap.

    Both sides shingle with the same 64-bit-hash construction
    (:func:`.dedup.shingle_hashes`), so the join carries longs, never gram
    strings.  Documents shorter than ``n`` tokens contribute one short gram
    (the GPT-3 ``min(13, len)`` rule).  Benchmarks are small (MBs) next to a
    100 TB corpus — the distinct benchmark-gram relation is broadcast by
    default, making the whole operator one scan of the corpus with zero
    corpus-side shuffle; set ``broadcast_benchmark=False`` for a giant
    blocklist, which falls back to a hash equi-join on the gram hash.
    """
    bcol = benchmark_text_col or text_col
    bench = (benchmark
             .select(F.explode(shingle_hashes(F.col(bcol), n)).alias("g"))
             .distinct())
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    grams = corpus.select(
        F.col(id_col), F.explode(shingle_hashes(F.col(text_col), n))
        .alias("g"))
    return (grams.join(bench, "g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_overlap_grams")))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 13, threshold: int = 1, mode: str = "drop",
                  benchmark_text_col: str | None = None,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Remove (or flag) corpus documents sharing ≥ ``threshold`` distinct
    word n-grams with a benchmark/eval corpus.

    ``mode='drop'`` → corpus minus contaminated docs (left-anti join);
    ``mode='flag'`` → corpus plus a ``contaminated`` boolean.
    """
    overlap = contamination_overlap(
        corpus, benchmark, text_col=text_col, id_col=id_col, n=n,
        benchmark_text_col=benchmark_text_col,
        broadcast_benchmark=broadcast_benchmark)
    hits = overlap.where(F.col("n_overlap_grams") >= threshold) \
                  .select(id_col)
    if mode == "drop":
        return corpus.join(hits, id_col, "left_anti")
    if mode == "flag":
        flagged = hits.withColumn("contaminated", F.lit(True))
        return (corpus.join(flagged, id_col, "left")
                .withColumn("contaminated",
                            F.coalesce("contaminated", F.lit(False))))
    raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")


# ---------------------------------------------------------------------------
# URL normalization / domain extraction — web-corpus curation keys
# ---------------------------------------------------------------------------

# multi-label public suffixes that need THREE labels for a registered
# domain (bbc.co.uk, not co.uk) — the pragmatic short list; a full
# public-suffix-list lookup is a broadcast-join against the PSL relation
_TWO_LEVEL_TLDS = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.cn", "net.cn", "org.cn", "com.br",
    "co.in", "co.kr", "com.mx", "com.tw", "co.za",
)


_TRACKING_PARAMS = r"(?:utm_[a-z]+|fbclid|gclid)"


def normalize_url(url: Column | str) -> Column:
    """Canonical URL for dedup keys: lowercase scheme+host, strip a
    leading ``www.``, scheme-matched default ports (http:80 / https:443
    only), fragments, pure tracking params (utm_*/fbclid/gclid — NOT
    ``ref``, which is a content selector on many sites), and trailing
    slashes. Pure Column regex chain, no UDF (Java regex; uses one
    lookahead, so not RE2-portable as-is).

    Contract: expects absolute URLs (``scheme://…`` or protocol-relative
    ``//…``); schemeless bare strings pass through with only
    fragment/param/slash cleanup."""
    c = F.col(url) if isinstance(url, str) else url
    u = F.trim(c)
    # lowercase scheme+authority only (path/query stay case-sensitive)
    u = F.concat(F.lower(F.regexp_extract(u, r"^([^/?#]*//[^/?#]*)", 1)),
                 F.regexp_replace(u, r"^[^/?#]*//[^/?#]*", ""))
    u = F.regexp_replace(u, r"#.*$", "")                      # fragment
    # scheme-matched default ports only: http on :443 is a DIFFERENT
    # origin and must not collapse
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443(?=[/?]|$)", r"$1")
    # leading www. of the AUTHORITY only (anchored — never path/query)
    u = F.regexp_replace(u, r"^((?:[a-z][a-z0-9+.-]*:)?//)www\.", r"$1")
    # tracking params: mid/end ('&p=v' drops), then leading with a
    # successor ('?p=v&' -> '?'), then a lone leading one
    u = F.regexp_replace(u, r"&" + _TRACKING_PARAMS + r"=[^&#]*", "")
    u = F.regexp_replace(u, r"\?" + _TRACKING_PARAMS + r"=[^&#]*&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACKING_PARAMS + r"=[^&#]*$", "")
    u = F.regexp_replace(u, r"[?&]+$", "")
    # path's trailing slash: anchored to the FIRST '?' (the query
    # separator) — a bare /\? would also rewrite '/?' inside query
    # values, corrupting the canonical key
    u = F.regexp_replace(u, r"^([^?#]*)/\?", r"$1?")
    # same anchoring for the no-query case: a bare /$ also stripped a
    # trailing slash INSIDE the last query value ('?q=a/' vs '?q=a'
    # collapsed to one dedup key)
    u = F.regexp_replace(u, r"^([^?#]*)/$", r"$1")
    return u


def url_host(url: Column | str) -> Column:
    """Hostname of an absolute or protocol-relative URL (lowercased,
    port stripped, no ``www.``); '' when there is no ``//`` authority."""
    c = F.col(url) if isinstance(url, str) else url
    # (?:[^/?#]*@)? consumes URL userinfo: without it,
    # 'https://google.com@evil.com/' extracted 'google.com@evil.com'
    # (and a password colon truncated the host at the colon) — any URL
    # could evade a domain blocklist by prepending 'anything@'
    h = F.lower(F.regexp_extract(
        c, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//(?:[^/?#]*@)?([^/?#:]+)", 1))
    # FQDN trailing dot ('example.com.') is the same host — without the
    # strip, registered_domain would split to ['example','com',''] and
    # bucket every trailing-dot host of a TLD under the bogus 'com.'
    h = F.regexp_replace(h, r"\.+$", "")
    return F.regexp_replace(h, r"^www\.", "")


def registered_domain(url: Column | str) -> Column:
    """eTLD+1 (bbc.co.uk, example.com) from a URL — the unit web-corpus
    curation buckets by (per-domain caps, blocklists, mixture weights)."""
    h = url_host(url)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    two = F.concat_ws(".", F.slice(parts, n - 1, 2))
    three = F.concat_ws(".", F.slice(parts, n - 2, 3))
    is_two_level = two.isin(*_TWO_LEVEL_TLDS)
    return F.when(n <= 2, h).otherwise(
        F.when(is_two_level, three).otherwise(two))


def url_dedup(df: DataFrame, url_col: str = "url",
              keep: str = "min") -> DataFrame:
    """Exact dedup on the NORMALIZED URL: one hash shuffle + top-1 window
    per canonical URL (same plan shape as ``dedup.exact_dedup``)."""
    from pyspark.sql import Window

    if keep not in ("min", "max"):
        raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
    key = normalize_url(F.col(url_col))
    order = [c for c in df.columns if c != url_col] or [url_col]
    w = Window.partitionBy(key).orderBy(
        *[getattr(F.col(c), "asc" if keep == "min" else "desc")()
          for c in order])
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def domain_filter(df: DataFrame, url_col: str = "url",
                  blocklist: DataFrame | list | None = None,
                  allowlist: DataFrame | list | None = None) -> DataFrame:
    """Drop (blocklist) or keep-only (allowlist) rows by registered
    domain.  List inputs become broadcast anti/semi joins — the corpus
    never shuffles."""
    if (blocklist is None) == (allowlist is None):
        raise ValueError("pass exactly one of blocklist / allowlist")
    sess = df.sparkSession
    src = blocklist if blocklist is not None else allowlist
    if isinstance(src, (list, tuple, set)):
        # registered_domain output is always lowercased — a mixed-case
        # list entry ('Example.COM') would silently never match
        rel = sess.createDataFrame(
            [(str(d).lower(),) for d in sorted(src)], "__dom string")
    else:
        rel = src.toDF("__dom").withColumn("__dom",
                                           F.lower(F.col("__dom")))
    keyed = df.withColumn("__dom", registered_domain(F.col(url_col)))
    how = "left_anti" if blocklist is not None else "left_semi"
    return keyed.join(F.broadcast(rel), "__dom", how).drop("__dom")


# ---------------------------------------------------------------------------
# Naive-Bayes quality classifier (trainable, fully relational)
# ---------------------------------------------------------------------------


def train_quality_classifier(df: DataFrame, label_col: str,
                             text_col: str = "text",
                             k: float = 1.0) -> dict:
    """Train a multinomial Naive-Bayes quality classifier from labeled
    documents (label 1 = high quality, 0 = low) — the classic trainable
    quality filter between heuristic signals and an external model, and a
    sibling of the CCNet perplexity scorer (same count-relation shape).

    Fully relational: ONE explode + groupBy builds the per-class token
    count relation; the model is count DataFrames + scalars, so the
    labeled corpus can be arbitrarily large.  Every downstream score is a
    closed-form function of the counts (DuckDB-re-derivable — gated)."""
    from fast_causal_inference_spark.datapipe.text import tokens

    lab = F.col(label_col).cast("int")
    toks = (df.select(lab.alias("__y"),
                      F.explode(tokens(F.col(text_col))).alias("w"))
            .where(F.col("w") != ""))
    # the cached count relation is released if training raises and
    # handed to the caller with the model on success
    with ExitStack() as scope:
        counts = persist(scope, toks.groupBy("w").agg(
            F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("c_pos"),
            F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("c_neg")))
        tot = counts.agg(F.sum("c_pos").alias("n_pos"),
                         F.sum("c_neg").alias("n_neg"),
                         F.count(F.lit(1)).alias("v")).collect()[0]
        docs = df.agg(
            F.sum(F.when(lab == 1, 1).otherwise(0)).alias("d_pos"),
            F.sum(F.when(lab == 0, 1).otherwise(0)).alias("d_neg")
        ).collect()[0]
        if tot["n_pos"] is None or int(tot["v"]) == 0:
            # token-free corpus: the sums come back NULL and a vocab of 0
            # would put log(0) in every scoring denominator (same guard as
            # train_bigram_lm)
            raise ValueError(
                "train_quality_classifier: the labeled corpus has no "
                "non-empty tokens — nothing to train on")
        scope.pop_all()
    return {"counts": counts, "n_pos": int(tot["n_pos"]),
            "n_neg": int(tot["n_neg"]), "vocab_size": int(tot["v"]),
            "d_pos": int(docs["d_pos"]), "d_neg": int(docs["d_neg"]),
            "k": float(k)}


def quality_classifier_score(df: DataFrame, model: dict,
                             text_col: str = "text",
                             id_cols: list | None = None,
                             output_col: str = "quality_logodds",
                             broadcast_counts: bool | None = True) -> DataFrame:
    """Per-document log-odds log P(good|doc) − log P(bad|doc) under the
    trained NB model (add-k smoothing; out-of-vocabulary tokens fall back
    to the smoothing mass).

    Scale shape: explode corpus tokens once, ONE equi-join against the
    token-count relation (broadcast when small), map-side-combined
    groupBy(doc) of per-token log ratios, then a join back to re-attach
    untokenizable/empty docs with the prior-only score."""
    id_cols = list(id_cols or ["doc_id"])
    prior = nb_prior(model)
    scores = nb_logodds_rel(df, model, text_col, id_cols, broadcast_counts)
    out = df.join(scores, id_cols, "left")
    return out.withColumn(
        output_col, F.coalesce(F.col("__s"), F.lit(0.0)) + F.lit(prior)) \
        .drop("__s")


def nb_prior(model: dict) -> float:
    """log P(good) − log P(bad) from the training document counts."""
    import math

    return (math.log(max(model["d_pos"], 1))
            - math.log(max(model["d_neg"], 1)))


def nb_logodds_rel(df: DataFrame, model: dict, text_col: str,
                   key_cols: list,
                   broadcast_counts: bool | None = True) -> DataFrame:
    """Shared scoring core (batch + streaming): explode tokens, join the
    count relation, per-key sum of add-k log-ratios → (key_cols…, __s).
    Keeping ONE implementation pins the streaming scorer to the batch
    semantics (the same convention as the bigram-LM scorer).

    ``broadcast_counts`` defaults True (a curated-label vocabulary is
    bounded); pass False/None for a web-scale vocabulary whose count
    relation exceeds the broadcast limit — the optimizer then picks the
    join strategy by size."""
    import math

    from fast_causal_inference_spark.datapipe.text import tokens

    k, V = model["k"], model["vocab_size"]
    lp_den = math.log(model["n_pos"] + k * V)
    ln_den = math.log(model["n_neg"] + k * V)
    toks = (df.select(*key_cols,
                      F.explode(tokens(F.col(text_col))).alias("w"))
            .where(F.col("w") != ""))
    counts = model["counts"]
    if broadcast_counts:
        counts = F.broadcast(counts)
    joined = toks.join(counts, "w", "left")
    contrib = (F.log(F.coalesce(F.col("c_pos"), F.lit(0)) + F.lit(k))
               - F.lit(lp_den)
               - F.log(F.coalesce(F.col("c_neg"), F.lit(0)) + F.lit(k))
               + F.lit(ln_den))
    return (joined.groupBy(*key_cols)
            .agg(F.sum(contrib).alias("__s")))


def quality_classifier_filter(df: DataFrame, model: dict,
                              text_col: str = "text",
                              id_cols: list | None = None,
                              threshold: float = 0.0) -> DataFrame:
    """Keep documents the classifier scores above ``threshold`` log-odds."""
    scored = quality_classifier_score(df, model, text_col, id_cols)
    return scored.where(F.col("quality_logodds") > threshold) \
                 .drop("quality_logodds")


def quality_classifier_udf(model: dict, max_vocab: int = 5_000_000):
    """In-process NB scorer: the count relation is collected once (bounded
    by ``max_vocab``) and shipped in an Arrow-UDF closure, so scoring is a
    STATELESS per-row map — usable anywhere a relational aggregation is
    not (e.g. as a filter stage before a streaming stateful operator, the
    way production fasttext-style scorers run in-process).

    Exact same log-odds as :func:`quality_classifier_score` (verified by
    test); prefer the relational scorer for batch pipelines — the UDF
    trades the broadcast join's codegen path for per-row Python."""
    import math

    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )

    n_counts = model["counts"].count()
    if n_counts > max_vocab:
        raise ValueError(
            f"vocabulary has {n_counts} entries > max_vocab={max_vocab}; "
            f"collecting it to the driver is not bounded — use the "
            f"relational quality_classifier_score instead")
    counts = {r["w"]: (int(r["c_pos"]), int(r["c_neg"]))
              for r in model["counts"].collect()}
    k, V = model["k"], model["vocab_size"]
    lp_den = math.log(model["n_pos"] + k * V)
    ln_den = math.log(model["n_neg"] + k * V)
    prior = nb_prior(model)

    import re

    # Java \s (the relational tokens() regex) is ASCII-only — Python's
    # str.split() would split on Unicode whitespace and diverge
    _ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def _score(texts):
        def one(t):
            if t is None:
                # relational path: NULL text yields no tokens → bare prior
                return prior
            s = prior
            # ASCII-only edge strip to mirror the relational path
            # (str.strip() would also strip Unicode whitespace like
            # NBSP and diverge from the Java \s tokenizer)
            for w in _ws.split(t.strip(" \t\n\x0b\f\r").lower()):
                if not w:
                    continue
                cp, cn = counts.get(w, (0, 0))
                s += (math.log(cp + k) - lp_den
                      - math.log(cn + k) + ln_den)
            return s

        return texts.map(one)

    ensure_udf_serializable()
    return F.pandas_udf(_score, "double")
