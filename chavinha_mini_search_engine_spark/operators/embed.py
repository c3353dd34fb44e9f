"""Embedding stage: iterator-style pandas UDF (SURVEY.md §2.12).

Mirrors the reference's batched embedding pipeline (indexer/indexer.py:
118-187: sentence-transformers, batch=32, model loaded once, async queue)
with the idiomatic Spark shape: an ITERATOR pandas UDF so per-worker model
init happens once per task and Arrow streams batches through it.  The model
here is the deterministic hash pseudo-embedder (oracle/embedder.py --
hermetic stand-in for all-MiniLM-L6-v2; swap `_load_model` for a real model
on a cluster with weights).

Full-doc embed text = f"{title} {content} {description}" truncated to 2000
chars (indexer.py:218, :121); chunk embed text = chunk_content (indexer.py:
225-232).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from ..oracle.embedder import EMBED_TRUNCATE, embed_text


def _load_model():
    """One-time per-python-worker init point (indexer.py:58 analog).

    Returns the deterministic hermetic hash embedder -- the same
    ``embed_text`` every query path uses (serve.py and search.py call it
    directly, as does ``query_embedding``), so document and query
    vectors share one space, and the driver's oracle gates and the
    recall tests pin its outputs.  A real model (the reference's
    all-MiniLM-L6-v2, indexer.py:58 -- dim 384 matches
    config.EMBEDDING_DIM) plugs in HERE and must replace the query-side
    ``embed_text`` calls in the same change; swapping only this side
    would silently compare vectors from two different spaces.

    Measured negative result (round 3) on the pseudo path: a fully
    batched variant (factorize tokens -> gather token-vector matrix ->
    add.reduceat per doc) ran ~5x SLOWER than the cached per-token
    accumulate -- the gather materializes (n_tokens x dim) float64 and
    doubles memory traffic, and the stage is bandwidth-bound.  A real
    model replaces this seam on GPU, where batching IS the win.
    """
    return lambda texts: [embed_text(t) for t in texts]


@F.pandas_udf(ArrayType(FloatType()))
def _embed_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    model = _load_model()
    for s in it:
        vecs = model([(t or "")[:EMBED_TRUNCATE] for t in s])
        yield pd.Series([np.asarray(v, dtype=np.float32) for v in vecs])


def embed_docs(docs: DataFrame) -> DataFrame:
    """Adds content_embedding: title+' '+content+' '+description (indexer.py:218)."""
    text = F.concat_ws(" ", "title", "content", "description")
    return docs.withColumn("content_embedding", _embed_udf(text))


def embed_chunks(chunks: DataFrame) -> DataFrame:
    return chunks.withColumn("chunk_embedding", _embed_udf(F.col("chunk_content")))


def query_embedding(query: str) -> np.ndarray:
    """Driver-side query embedding (api/main.py:304-325 semantics:
    same encoder, mean-pool + L2-normalize -- the pseudo-embedder does both)."""
    return embed_text(query)

