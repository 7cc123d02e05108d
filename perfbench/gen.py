"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size, GEN_VERSION)``: the same
arguments give the same logical content (see :func:`digest_columns`),
whatever the host.  Inputs are cached on disk under the work directory,
keyed by those three values (plus the file count), and are built before
any timing starts.

Two generators:

* :func:`experiment_columns` — an A/B experiment readout table: user id,
  arm, strata, a pre-period metric, an outcome with a planted effect,
  clicks/views, a binary conversion and six covariates.
* :func:`corpus_docs` — text documents with planted near-duplicate
  clusters whose pairwise word-3-gram Jaccard is known exactly.

Both write multi-file parquet with at least one file per core: a single
file with one row group scans on one core no matter how Spark splits it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
KEEP_CACHED = 3          # inputs of one kind kept on disk; older ones go

# planted effects (the references recompute everything from the data; these
# only shape it)
TRUE_EFFECT = 0.5
COVARIATES = [f"x{i}" for i in range(1, 7)]
_BETA = np.array([0.8, -0.5, 0.3, 0.2, -0.1, 0.05])


def n_files() -> int:
    return max(8, os.cpu_count() or 1)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream, GEN_VERSION])


def experiment_columns(seed: int, n: int) -> dict[str, np.ndarray]:
    """The experiment table as numpy columns (row order = file order)."""
    rng = _rng(seed, 1)
    arm = rng.integers(0, 2, n).astype(np.int32)
    strata = rng.integers(0, 4, n).astype(np.int32)
    x = rng.standard_normal((n, len(COVARIATES)))
    pre = 10.0 + 0.5 * strata + x[:, 0] + 2.0 * rng.standard_normal(n)
    y = (0.6 * pre + x @ _BETA + TRUE_EFFECT * arm
         + rng.standard_normal(n))
    views = (rng.poisson(5.0, n) + 1).astype(np.int64)
    clicks = rng.binomial(views, 0.10 + 0.01 * arm).astype(np.int64)
    logit = -1.0 + 0.3 * arm + 0.5 * x[:, 0] - 0.3 * x[:, 1] + 0.2 * x[:, 2]
    conv = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int32)
    cols = {
        "user_id": np.arange(1, n + 1, dtype=np.int64),
        "arm": arm, "strata": strata, "pre": pre, "y": y,
        "clicks": clicks, "views": views, "conv": conv,
    }
    for i, name in enumerate(COVARIATES):
        cols[name] = x[:, i]
    return cols


def _words(rng: np.random.Generator, vocab: int, k: int) -> list[str]:
    return [f"w{v}" for v in rng.integers(0, vocab, k)]


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of whitespace tokens, as the library builds
    them (a document shorter than ``n`` is one shingle of all tokens)."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n])
            for i in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def corpus_docs(seed: int, n_docs: int
                ) -> tuple[list[int], list[str], list[tuple[int, int, float]]]:
    """``(doc_ids, texts, planted)`` where ``planted`` lists every pair of
    documents generated from one base (``id_a < id_b``, exact Jaccard).

    About one document in six is a variant: each cluster base gets one to
    three variants, and a variant substitutes 0-3 random tokens of its
    base (0 = exact copy).
    The vocabulary is large and uniform, so unrelated documents share
    almost no 3-grams and the planted pairs are the only near-duplicates.
    """
    rng = _rng(seed, 2)
    vocab = 50_000
    n_base = n_docs - n_docs // 6
    texts: list[str] = []
    cluster_of: list[int] = []
    for b in range(n_base):
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(40, 120)))))
        cluster_of.append(b)
    b = 0
    while len(texts) < n_docs:
        base = texts[b]
        toks = base.split()
        for _ in range(int(rng.integers(1, 4))):
            if len(texts) >= n_docs:
                break
            var = list(toks)
            edits = int(rng.choice([0, 1, 2, 3], p=[0.1, 0.4, 0.3, 0.2]))
            for pos in rng.choice(len(var), edits, replace=False):
                var[pos] = f"v{int(rng.integers(0, vocab))}"
            texts.append(" ".join(var))
            cluster_of.append(b)
        b += 1
    ids = (rng.permutation(n_docs) + 1).astype(np.int64).tolist()
    members: dict[int, list[int]] = {}
    for i, c in enumerate(cluster_of):
        members.setdefault(c, []).append(i)
    planted = []
    for idx in members.values():
        for i in range(len(idx)):
            for j in range(i + 1, len(idx)):
                a, b2 = idx[i], idx[j]
                ia, ib = sorted((ids[a], ids[b2]))
                planted.append((ia, ib, jaccard(texts[a], texts[b2])))
    planted.sort()
    return ids, texts, planted


def _write_parquet(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    k = n_files()
    bounds = np.linspace(0, table.num_rows, k + 1).astype(int)
    for i in range(k):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        # dictionary encoding of random doubles is tried and abandoned per
        # page, which made the write ten times slower
        pq.write_table(part, os.path.join(out_dir, f"part-{i:04d}.parquet"),
                       row_group_size=max(1, part.num_rows // 2 + 1),
                       use_dictionary=False)


def digest_columns(cols: dict) -> str:
    """sha256 over the logical content (names, dtypes, values, in order)."""
    h = hashlib.sha256()
    for name in sorted(cols):
        arr = np.asarray(cols[name])
        h.update(name.encode())
        if arr.dtype == object:
            for v in arr:
                h.update(str(v).encode())
                h.update(b"\0")
        else:
            h.update(str(arr.dtype).encode())
            h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


def _evict(root: str, kind: str) -> None:
    """Drop all but the newest ``KEEP_CACHED - 1`` cached inputs of a kind
    (each run of the benchmark usually brings a new seed)."""
    if not os.path.isdir(root):
        return
    old = sorted((e for e in os.scandir(root)
                  if e.name.startswith(f"{kind}-")),
                 key=lambda e: e.stat().st_mtime)
    for e in old[:max(0, len(old) - (KEEP_CACHED - 1))]:
        shutil.rmtree(e.path, ignore_errors=True)


def materialize(kind: str, seed: int, size: int, root: str) -> dict:
    """Build (or reuse) the cached input; return its manifest.

    The manifest holds the parquet directory, the row count, the content
    digest and, for the corpus, the planted pairs."""
    key = f"{kind}-v{GEN_VERSION}-s{seed}-n{size}-f{n_files()}"
    out = os.path.join(root, key)
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            # the checkout may have moved since the input was cached
            return {**json.load(fh), "data": os.path.join(out, "data")}
    _evict(root, kind)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    if kind == "experiment":
        cols = experiment_columns(seed, size)
        table = pa.table(cols)
        extra: dict = {}
    elif kind == "corpus":
        ids, texts, planted = corpus_docs(seed, size)
        cols = {"doc_id": np.asarray(ids, dtype=np.int64),
                "text": np.asarray(texts, dtype=object)}
        table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "text": pa.array(texts, pa.string())})
        extra = {"planted": planted}
    else:
        raise ValueError(f"unknown generator {kind!r}")
    _write_parquet(table, os.path.join(tmp, "data"))
    manifest = {"key": key, "rows": table.num_rows,
                "digest": digest_columns(cols),
                "data": os.path.join(out, "data"), **extra}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, out)
    return manifest
