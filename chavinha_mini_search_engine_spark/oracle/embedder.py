"""Deterministic hash pseudo-embedder (hermetic stand-in for MiniLM).

The reference embeds with sentence-transformers ``all-MiniLM-L6-v2``
(/root/reference/indexer/indexer.py:58) and at query time with the same
model via ONNX + mean-pool + L2-normalize (/root/reference/api/main.py:
304-325).  Model weights are not available in this environment, so the
engine uses a deterministic text -> R^384 embedding that preserves the
*pipeline* semantics exactly (same function at index and query time, same
truncation text[:2000] per indexer.py:121, L2-normalized output, angular
distance): a bag-of-words of per-token sha1-seeded Gaussian vectors,
mean-pooled and L2-normalized.  Similar texts share tokens -> high cosine,
so ranking behavior is meaningful, and the whole test suite is hermetic.

Swapping in a real model is a one-line change in operators/embed.py (the
iterator pandas-UDF structure is model-agnostic).
"""

from __future__ import annotations

import hashlib

import numpy as np

from ..config import EMBEDDING_DIM
from ..functions.tokenizer import tokenize_py

EMBED_TRUNCATE = 2000  # indexer.py:121


def _token_vec(token: str, dim: int) -> np.ndarray:
    # sha1 -> uint64 seed -> Generator: stable across platforms/versions
    seed = int.from_bytes(hashlib.sha1(token.encode()).digest()[:8], "big")
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal(dim)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """The seeded random hyperplanes whose sign bits bucket an embedding
    (``attributes.sem_bucket``, the lsh probes): one definition for the
    build, the Spark query path and the resident one."""
    rng = np.random.Generator(
        np.random.PCG64(int.from_bytes(hashlib.sha1(f"lsh-{seed}".encode()).digest()[:8], "big"))
    )
    return rng.standard_normal((n_planes, dim))


# tiny process-local memo: token vocabulary is small relative to corpus
_CACHE: dict = {}


def embed_text(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """text -> L2-normalized float32 vector of length ``dim``."""
    toks = tokenize_py((text or "")[:EMBED_TRUNCATE])
    if not toks:
        return np.zeros(dim, dtype=np.float32)
    acc = np.zeros(dim, dtype=np.float64)
    for t in toks:
        v = _CACHE.get((t, dim))
        if v is None:
            v = _token_vec(t, dim)
            if len(_CACHE) < 200_000:
                _CACHE[(t, dim)] = v
        acc += v
    acc /= len(toks)
    n = np.linalg.norm(acc)
    if n > 0:
        acc = acc / n
    return acc.astype(np.float32)


def closeness(query_vec: np.ndarray, doc_vecs: np.ndarray) -> np.ndarray:
    """Vespa ``closeness`` for distance-metric: angular (doc.sd:54).

    angular distance = arccos(cos_sim); closeness = 1 / (1 + distance).
    Inputs are L2-normalized; computed in float64 for rank determinism.
    """
    sims = np.clip(doc_vecs.astype(np.float64) @ query_vec.astype(np.float64), -1.0, 1.0)
    return 1.0 / (1.0 + np.arccos(sims))
