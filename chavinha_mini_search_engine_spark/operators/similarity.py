"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k -- the correctness baseline,
  entirely JVM-side (zip_with + aggregate, no Python);
- ``cosine_neardup_pairs_banded``: banded near-dup pairs (hyperplane
  buckets + multi-probe candidates, exact cosine verify -- the scale
  path).  Named explicitly: it is approximate by construction, so callers
  choose it knowingly instead of inheriting it under an exact-sounding
  name;
- ``cosine_neardup_pairs_exact``: all-pairs exact form -- the correctness
  oracle for the banded path and the right call at gate/test scale;
- ``lsh_bucketed_topk``: the scale path -- random-hyperplane LSH buckets
  (deterministic seeded planes), probe the query bucket plus all
  hamming-1 neighbor buckets, exact-score only the probed candidates.
  Approximate by construction; recall vs brute force is asserted in tests.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle.embedder import _hyperplanes


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _stack64(series: pd.Series):
    """Arrow list<float> batch -> (n, dim) float64 matrix + non-null mask
    (cast BEFORE any arithmetic, matching the Catalyst ``transform(cast
    double)`` form).  Null vectors become zero rows with mask False, so
    callers can emit null results for them (the old HOF expressions
    propagated null)."""
    vals = series.to_numpy()
    mask = np.array([v is not None for v in vals], dtype=bool)
    if mask.all():
        return np.stack(vals).astype(np.float64), mask
    ok = np.flatnonzero(mask)
    if not ok.size:
        return np.zeros((len(vals), 1)), mask
    dim = len(vals[ok[0]])
    m = np.zeros((len(vals), dim), dtype=np.float64)
    m[ok] = np.stack(vals[ok]).astype(np.float64)
    return m, mask


def cosine_col(vec_col, query: Sequence[float]):
    """Cosine(vec, query) as a vectorized Arrow kernel.

    The previous spelling was Catalyst higher-order functions
    (aggregate/zip_with) whose lambdas are interpreted per ELEMENT -- no
    whole-stage codegen -- which made every cosine a ~dim-step interpreter
    loop (guide §4.2; the index build hit the same wall in
    index_build.attributes and moved to a batched numpy matmul).  One
    (batch x dim) @ (dim,) product per Arrow batch replaces it; float64
    end-to-end like the old expression, and the rounded-6dp outputs are
    byte-identical against the DuckDB oracle on the gate data
    (scripts/check_oracle.py)."""
    q64 = np.asarray([float(x) for x in query], dtype=np.float64)
    qn = float(np.linalg.norm(q64)) or 1.0

    @F.pandas_udf("double")
    def _qcos(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series(np.zeros(0))
        m, mask = _stack64(v)
        dots = m @ q64
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        norms[norms == 0] = 1.0
        out = dots / (norms * qn)
        if mask.all():
            return pd.Series(out)
        res = pd.Series(out, dtype="float64")
        res[~mask] = None
        return res

    return _qcos(vec_col)


def cosine_topk(
    emb: DataFrame, query: Sequence[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity; deterministic tie-break on id."""
    return (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine_col(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_neardup_pairs_exact(
    emb: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ALL-PAIRS exact cosine >= t: O(n^2) -- the correctness oracle the
    banded default is tested against (tests/test_pipeline_ops.py), never
    the path to run at corpus scale."""
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    pairs = e.alias("x").join(e.alias("y"), F.col("x.id") < F.col("y.id"))
    vx = F.transform(F.col("x.v"), lambda t: t.cast("double"))
    vy = F.transform(F.col("y.v"), lambda t: t.cast("double"))
    cos = _dot(vx, vy) / (
        F.when(_norm(vx) == 0, F.lit(1.0)).otherwise(_norm(vx))
        * F.when(_norm(vy) == 0, F.lit(1.0)).otherwise(_norm(vy))
    )
    return (
        pairs.select(
            F.col("x.id").alias("a"), F.col("y.id").alias("b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs_banded(
    emb: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 8, max_hamming: int = 2, seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= t -- banded (the scale path).

    Same pattern as MinHash-LSH (dedup.py): random-hyperplane sign buckets
    generate candidates (a pair is a candidate iff their buckets differ in
    <= max_hamming plane bits, via multi-probe explosion of the NARROW
    (id, bucket) projection -- vectors are never duplicated across probes),
    then ONLY candidates get the exact cosine verification.  Shuffled
    volume is |probes| * n narrow rows + the candidate joins, not n^2 wide
    rows.

    Approximate by construction: a pair at angle theta survives with
    P[Binom(n_planes, theta/pi) <= max_hamming]; near-duplicates
    (cosine -> 1, theta -> 0) are found with probability -> 1.  Recall vs
    the exact oracle is asserted in tests/test_pipeline_ops.py.
    """
    from itertools import combinations

    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    dim = len(e.select("v").first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    narrow = e.select("id", _bucket_udf_col(F.col("v"), planes).alias("_bkt"))
    masks = [
        sum(1 << b for b in bits)
        for r in range(max_hamming + 1)
        for bits in combinations(range(n_planes), r)
    ]
    # each (a, b) candidate matches on exactly one mask (the xor of their
    # buckets), so no distinct is needed after the join
    probes = narrow.select(
        "id",
        F.explode(
            F.array(*[F.col("_bkt").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("_pb"),
    )
    cand = (
        probes.alias("x")
        .join(
            narrow.alias("y"),
            (F.col("x._pb") == F.col("y._bkt")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
    )
    va = e.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    j = cand.join(va, "a").join(vb, "b")
    # candidate verification as ONE batched numpy kernel per Arrow batch
    # instead of 5 interpreted per-element folds per pair (guide §4.2);
    # float64 semantics identical to the HOF spelling, gate-checked
    return (
        j.select("a", "b", F.round(_pair_cosine("va", "vb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _bucket_expr(vec_col, planes: np.ndarray):
    """sign-bit bucket id as a JVM expression: sum of bit * (dot > 0).
    Kept as the reference spelling (the DuckDB twin mirrors it term by
    term); hot paths use the batched numpy form below -- identical sign
    bits (same float64 dot, compared > 0)."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    b = F.lit(0)
    for i, p in enumerate(planes):
        plit = F.array(*[F.lit(float(x)) for x in p])
        b = b + F.when(_dot(v, plit) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b


def _bucket_udf_col(vec_col, planes: np.ndarray):
    """sign-bit bucket id as one (batch x dim) @ (dim x planes) matmul per
    Arrow batch -- the same kernel the index build uses for sem_bucket
    (index_build.attributes), replacing n_planes interpreted HOF dots per
    row (guide §4.2)."""
    pT = planes.T.astype(np.float64)
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @F.pandas_udf("int")
    def _bkt(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series(np.zeros(0, dtype=np.int32))
        m, mask = _stack64(v)
        bits = (m @ pT) > 0
        out = pd.Series((bits * weights).sum(axis=1).astype(np.int32))
        if not mask.all():
            out = out.astype("Int32")
            out[~mask] = None
        return out

    return _bkt(vec_col)


def _pair_cosine(col_a, col_b):
    """cosine(va, vb) as a batched numpy kernel (float64; zero norms map
    to 1.0 exactly like the guarded HOF expression)."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series(np.zeros(0))
        a, ma = _stack64(va)
        b_, mb = _stack64(vb)
        dots = np.einsum("ij,ij->i", a, b_)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b_, b_))
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        out = dots / (na * nb)
        mask = ma & mb
        if mask.all():
            return pd.Series(out)
        res = pd.Series(out, dtype="float64")
        res[~mask] = None
        return res

    return _cos(col_a, col_b)


def add_lsh_bucket(
    emb: DataFrame, dim: int, n_planes: int = 8,
    vec_col: str = "embedding", bucket_col: str = "lsh_bucket", seed: int = 42,
) -> DataFrame:
    """Precompute the sign-bit bucket column once at WRITE time; persist
    the table ``partitionBy(bucket_col)`` and query-time probing becomes
    partition pruning (|probes|/2^n_planes of the data is read).  The
    engine's index build does exactly this for chunk embeddings
    (index_build.attributes -> sem_bucket)."""
    planes = _hyperplanes(dim, n_planes, seed)
    return emb.withColumn(bucket_col, _bucket_udf_col(F.col(vec_col), planes))


def lsh_probes(
    query: Sequence[float], n_planes: int = 8, probe_radius: int = 2,
    seed: int = 42,
) -> List[int]:
    """Multi-probe bucket set for a query: its own bucket plus every
    bucket within probe_radius hamming bits."""
    from itertools import combinations

    planes = _hyperplanes(len(query), n_planes, seed)
    qsig = sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, query)) > 0)
    probes: List[int] = []
    for r in range(probe_radius + 1):
        for bits in combinations(range(n_planes), r):
            m = qsig
            for b in bits:
                m ^= 1 << b
            probes.append(m)
    return probes


def lsh_bucketed_topk(
    emb: DataFrame, query: Sequence[float], k: int = 10, n_planes: int = 8,
    probe_radius: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
    bucket_col: Optional[str] = None,
) -> DataFrame:
    """ANN: restrict exact scoring to the LSH buckets within
    ``probe_radius`` hamming distance of the query's bucket (multi-probe).
    Recall/cost is tuned by (n_planes, probe_radius).

    Pass ``bucket_col`` when the table already carries a precomputed
    bucket (add_lsh_bucket at write time, ideally partitionBy'd): the probe
    filter then prunes partitions instead of recomputing buckets over the
    full table per query -- the scale path."""
    probes = lsh_probes(query, n_planes, probe_radius, seed)
    if bucket_col is None:
        planes = _hyperplanes(len(query), n_planes, seed)
        bucketed = emb.withColumn("_bkt", _bucket_udf_col(F.col(vec_col), planes))
        bucket_col = "_bkt"
    else:
        bucketed = emb
    cand = bucketed.filter(F.col(bucket_col).isin(probes))
    return cosine_topk(cand, query, k, id_col, vec_col)
