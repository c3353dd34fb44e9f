"""Training-data pipeline operators: dedup / similarity.

The SQL-expressible ops are gated by the DuckDB driver oracle
(scripts/check_oracle.py mirrors it); these tests cover what SQL cannot:
MinHash-LSH recall, SimHash banding completeness and LSH-ANN recall.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chavinha_mini_search_engine_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def dup_docs(spark):
    """30 docs with controlled near-duplication (seeded)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    base_texts = []
    for i in range(10):
        words = rng.choices(vocab, k=60)
        base_texts.append(" ".join(words))
        rows.append((i, base_texts[-1]))
    # near-duplicates: perturb 1-3 words of a base (high jaccard)
    for j in range(10):
        words = base_texts[j % 10].split()
        for _ in range(rng.randint(1, 3)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((100 + j, " ".join(words)))
    # exact duplicates
    for j in range(5):
        rows.append((200 + j, base_texts[j]))
    # unrelated
    for j in range(5):
        rows.append((300 + j, " ".join(rng.choices([f"z{i}" for i in range(50)], k=60))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_duplicates(dup_docs):
    out = dedup.exact_dedup(dup_docs).collect()
    dups = [r for r in out if r["dup_count"] > 1]
    assert len(dups) == 5
    for r in dups:
        assert r["keep_id"] < 200  # survivor is the original


def test_minhash_lsh_recall_vs_exact(dup_docs):
    exact = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(dup_docs, threshold=0.8).collect()
    }
    assert len(exact) >= 10, "fixture must contain high-jaccard pairs"
    lsh = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_dedup(dup_docs, threshold=0.8).collect()
    }
    # verification step makes LSH precise; 16x4 banding at j>=0.8 has
    # ~99.98% per-pair recall
    assert lsh <= {
        (r["a"], r["b"]) for r in dedup.jaccard_pairs(dup_docs, threshold=0.8).collect()
    }
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall}"


def test_simhash_banding_complete(dup_docs):
    """4x16 banding must find EVERY pair with hamming <= 3 (pigeonhole)."""
    sigs = {
        r["doc_id"]: r["sig"]
        for r in dup_docs.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("sig")
        ).collect()
    }
    brute = set()
    items = sorted(sigs.items())
    for i, (a, sa) in enumerate(items):
        for b, sb in items[i + 1:]:
            if bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3:
                brute.add((a, b))
    got = {
        (r["a"], r["b"])
        for r in dedup.simhash_neardup_pairs(dup_docs, max_hamming=3).collect()
    }
    assert got == brute
    assert len(brute) >= 5  # exact dups have hamming 0


def test_simhash_rejects_radius_beyond_banding(dup_docs):
    """max_hamming > 3 would silently lose pairs (pigeonhole needs
    bands > max_hamming), so it must be rejected."""
    with pytest.raises(ValueError):
        dedup.simhash_neardup_pairs(dup_docs, max_hamming=4)


def test_cosine_topk_and_lsh_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, qvec, 10).collect()]
    assert exact[0] == 0  # self-similarity = 1.0
    approx = [r["vec_id"] for r in similarity.lsh_bucketed_topk(emb, qvec, 10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"ANN recall@10 {recall}"
    assert approx[0] == 0


def test_lsh_topk_recall_on_clustered_data(spark):
    """On data where ANN is well-posed (tight clusters, neighbor cosine
    >> background) the LSH path must achieve high recall.  The sf*
    embeddings fixtures are uniform random vectors -- the
    information-theoretic worst case for ANY bucketing ANN (top-10 cosines
    ~0.3, no locality to hash), which is why the threshold on those is low
    (test_cosine_topk_and_lsh_recall)."""
    rng = np.random.default_rng(3)
    cents = rng.standard_normal((10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = []
    for i in range(500):
        # noise norm ~0.05*sqrt(64)=0.4 vs unit centroid: intra-cluster
        # cosine ~0.86 -- a realistic "near neighbors exist" regime
        v = cents[i % 10] + 0.05 * rng.standard_normal(64)
        vecs.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    recalls = []
    for qid in (0, 1, 2, 3):
        qvec = vecs[qid][1]
        exact = [r["vec_id"] for r in similarity.cosine_topk(emb, qvec, 10).collect()]
        approx = [
            r["vec_id"]
            for r in similarity.lsh_bucketed_topk(
                emb, qvec, 10, n_planes=8, probe_radius=3
            ).collect()
        ]
        recalls.append(len(set(exact) & set(approx)) / 10)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"clustered-data ANN recall {recalls}"


def test_lsh_precomputed_bucket_path_matches(spark):
    """The scale path (bucket precomputed at write time via add_lsh_bucket,
    probe filter prunes instead of recomputing) must return exactly what
    the compute-per-query path returns."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    onthefly = similarity.lsh_bucketed_topk(emb, qvec, 10).collect()
    pre = similarity.add_lsh_bucket(emb, dim=len(qvec))
    precomputed = similarity.lsh_bucketed_topk(
        pre, qvec, 10, bucket_col="lsh_bucket"
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in onthefly] == [
        (r["vec_id"], r["cosine"]) for r in precomputed
    ]


def test_cosine_neardup_banded_matches_exact(spark):
    """The banded default (hyperplane buckets + multi-probe + exact verify)
    must reproduce the all-pairs oracle on the gate corpora -- this is the
    same equivalence the driver's SQL oracle checks."""
    for sf in ("sf0.001", "sf0.01"):
        emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        exact = {
            (r["a"], r["b"], r["cosine"])
            for r in similarity.cosine_neardup_pairs_exact(emb, 0.5).collect()
        }
        banded = {
            (r["a"], r["b"], r["cosine"])
            for r in similarity.cosine_neardup_pairs_banded(emb, 0.5).collect()
        }
        assert banded <= exact, "banded must never invent pairs"
        assert banded == exact, f"banded missed pairs at {sf}: {exact - banded}"


def test_cosine_matches_numpy(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    rows = emb.collect()
    q = np.asarray(rows[0]["embedding"], dtype=np.float64)
    got = {r["vec_id"]: r["cosine"] for r in similarity.cosine_topk(emb, q, 50).collect()}
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        expect = float(v @ q / ((np.linalg.norm(v) or 1.0) * (np.linalg.norm(q) or 1.0)))
        assert abs(got[r["vec_id"]] - round(expect, 6)) < 2e-6


def test_sem_lsh_planes_validated():
    """sem_bucket is int32 in attributes: >=31 planes would overflow the
    stored bucket while query-side probes compute unbounded ints (silent
    zero-candidate lsh mode) -- the config must reject it loudly."""
    from chavinha_mini_search_engine_spark.config import IndexConfig

    with pytest.raises(ValueError):
        IndexConfig(sem_lsh_planes=31)
    with pytest.raises(ValueError):
        IndexConfig(sem_lsh_planes=0)
    IndexConfig(sem_lsh_planes=30)  # boundary OK
