"""Registry for the dedup/similarity suite's internal caches.

The pair-finding entry points (``dedup.ngram_jaccard_pairs``,
``minhash_lsh_pairs``, ``simhash_pairs``, ``similarity.
embedding_near_dup_pairs`` …) cache shared intermediates — most notably
the exploded shingle inverted index, one row per (doc, shingle) — and
deliberately do NOT unpersist them before returning: the same cached
relation is plan-equal across the whole dedup suite for one corpus, so
a pipeline that runs ngram + MinHash + SimHash over the same documents
builds it once (see ``_shingle_inv``).  The cost is that a long-lived
session accumulates pinned block-store entries the caller never sees.

This module is the release valve: every internal ``.cache()`` registers
here, and :func:`release_dedup_caches` unpersists everything registered
so far — call it between corpora, or when a pipeline is done with its
pair outputs.  (``spark.catalog.clearCache()`` also works but drops
EVERY cached relation in the session, including the caller's own.)
These caches stay outside the per-call ``ExitStack`` scope that
releases solver caches (``operators.design.persist``): a scope ends
with its call, and these must outlive it to be shared across calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["register_cache", "release_dedup_caches"]

_CACHED: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """Track an internally-cached relation for later bulk release."""
    _CACHED.append(df)
    return df


def release_dedup_caches() -> int:
    """Unpersist every registered internal cache; returns the count.

    Safe to call at any time — relations already unpersisted (or whose
    session is gone) are skipped; results previously collected or
    re-cached by the caller are unaffected (downstream frames recompute
    from source if re-executed)."""
    n = 0
    for df in _CACHED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _CACHED.clear()
    return n
