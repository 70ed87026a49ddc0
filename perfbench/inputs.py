"""Seeded input staging for the three workloads.

Every table is a pure function of ``(seed, size)``: the same seed always
stages byte-identical inputs.  Tables are written once per seed under the
benchmark's work directory and reused by later runs with that seed; no
staging step runs inside a clock.

* ``pages``: ``sources.pages.corpus_df(seed=...)`` (Zipf hosts, FIXTURES
  edge-case ids, 0-2 glyph PNGs per page), staged to parquet by Spark.
* ``documents``: a base table shaped like the ``documents`` test table
  (30-word vocabulary, 10-100 tokens, five languages, 20 sources, ~5%
  near-duplicates tagged ``dup``), replicated with key-shifted doc ids the
  way ``scripts/gen_sf.py`` derives a bigger scale factor.
* ``embeddings``: 64-dim unit vectors in ten labels, replicated with
  noise (sigma 0.02) so the ANN operators see near-duplicate structure
  across replicas.

For ``documents`` and ``embeddings`` the base rows are fixed (``BASE_SEED``)
and replica 0 copies them verbatim, as ``gen_sf.py`` does; the run's seed
drives the perturbation of every other replica.  A fixed base keeps the
shape of the work steady across seeds -- the number of label-propagation
rounds in ``dedup_clusters``, for one, follows the near-duplicate graph's
diameter -- while every seed still gets its own table.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
EMB_DIM = 64
EMB_LABELS = 10
EMB_NOISE_SIGMA = 0.02
# Per-replica perturbation of document text: each replica rewrites this
# share of a document's tokens, so replicas are near- (not exact) dups.
DOC_MUTATE_SHARE = 0.03
BASE_SEED = 42
PAGE_FILES = 16


def _stride(max_val: int) -> int:
    s = 10
    while s <= max_val:
        s *= 10
    return s


def documents_table(seed: int, n_base: int, replicas: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars) with ``n_base * replicas`` rows."""
    rng = np.random.default_rng([BASE_SEED, 1])
    lens = rng.integers(10, 101, n_base)
    base = [list(rng.integers(0, len(VOCAB), n)) for n in lens]
    # near-duplicates: a copy of an earlier doc with its last token
    # replaced by the 'dup' marker
    for i in np.flatnonzero(rng.random(n_base) < DUP_SHARE):
        if i > 0:
            src = base[int(rng.integers(0, i))]
            base[i] = src[:-1] + [-1]
    langs = rng.choice(len(LANGS), n_base, p=LANG_P)
    stride = _stride(n_base - 1)
    vocab = np.array(VOCAB + ["dup"], dtype=object)

    ids, texts, lang_col, sources = [], [], [], []
    for r in range(replicas):
        prng = np.random.default_rng([seed, 2, r])
        for i, toks in enumerate(base):
            toks = np.array(toks)
            if r:
                flip = prng.random(len(toks)) < DOC_MUTATE_SHARE
                toks = np.where(flip, prng.integers(0, len(VOCAB), len(toks)), toks)
            doc_id = i + r * stride
            ids.append(doc_id)
            texts.append(" ".join(vocab[toks]))
            lang_col.append(LANGS[langs[i]])
            sources.append(f"src{doc_id % N_SOURCES}")
    return pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang_col, type=pa.string()),
            "source": pa.array(sources, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(seed: int, n_base: int, replicas: int) -> pa.Table:
    """(vec_id, embedding float[64], label) with ``n_base * replicas`` rows."""
    rng = np.random.default_rng([BASE_SEED, 3])
    base = rng.normal(size=(n_base, EMB_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    base = base.astype(np.float32)
    labels = rng.integers(0, EMB_LABELS, n_base).astype(np.int32)
    stride = _stride(n_base - 1)
    ids, vecs = [], []
    for r in range(replicas):
        ids.append(np.arange(n_base, dtype=np.int64) + r * stride)
        if r == 0:
            vecs.append(base)
        else:
            noise = np.random.default_rng([seed, 4, r]).normal(0.0, EMB_NOISE_SIGMA, base.shape)
            vecs.append(base + noise.astype(np.float32))
    flat = np.concatenate(vecs)
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(flat.reshape(-1), type=pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(np.tile(labels, replicas), type=pa.int32()),
        }
    )


def _source_tag() -> str:
    """Short hash of this file: staged inputs are keyed by it, so a changed
    generator never reuses tables an earlier version wrote."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:8]


def _write_once(path: str, make) -> str:
    """Write ``make()`` to ``path`` unless an earlier run already did.

    The table lands under a temporary name and is renamed into place, so
    an interrupted run never leaves a half-written input behind."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        pq.write_table(make(), tmp)
        os.replace(tmp, path)
    return path


MAKERS = {"documents": documents_table, "embeddings": embeddings_table}


def stage_table(root: str, table: str, seed: int, n_base: int, replicas: int) -> str:
    """Stage one table as ``<table>.parquet`` in its own sf-style directory
    (the layout ``oracle_sql()`` twins read) and return the directory."""
    sf_dir = os.path.join(root, f"{table}{n_base}x{replicas}_seed{seed}_{_source_tag()}")
    os.makedirs(sf_dir, exist_ok=True)
    _write_once(
        os.path.join(sf_dir, f"{table}.parquet"),
        lambda: MAKERS[table](seed, n_base, replicas),
    )
    return sf_dir


def stage_pages(spark, root: str, seed: int, n_pages: int) -> str:
    """Stage ``corpus_df(n_pages, seed)`` to a parquet directory once."""
    from manga_translator_spark.sources.pages import corpus_df

    path = os.path.join(root, f"pages{n_pages}_seed{seed}_{_source_tag()}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # 16 files: four scan tasks per core, so no bucket group waits on
        # one straggling task
        corpus_df(spark, n_pages, seed=seed, partitions=PAGE_FILES).write.mode("overwrite").parquet(path)
    return path
