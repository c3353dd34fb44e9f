"""Engine configuration.

All semantic constants of the reference engine live here, each with the
reference evidence (file:line in /root/reference) so parity is auditable.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# --- chunking (indexer/chunker.py:17, indexer/indexer.py:62) ---
CHUNK_SIZE = 800
CHUNK_OVERLAP = 150
MIN_CHUNK_SIZE = 100

# --- extraction (crawler/doc_scraper.py:449-472, 218-234) ---
MAIN_SELECTORS = [
    "main",
    "article",
    '[role="main"]',
    ".main-content",
    "#content",
    "#main",
    ".content",
    ".documentation",
]
NOISE_TAGS = ("script", "style", "nav", "footer", "header", "aside")
CONTENT_MAX_CHARS = 10000      # doc_scraper.py:472
SNIPPET_PRE_MIN = 10           # doc_scraper.py:226
SNIPPET_PRE_MAX = 1000         # doc_scraper.py:226
SNIPPET_CODE_MIN = 5           # doc_scraper.py:231
SNIPPET_CODE_MAX = 500         # doc_scraper.py:231
SNIPPET_CAP = 20               # doc_scraper.py:234

# --- BM25 (Vespa's published formula; doc.sd:141 field weights) ---
BM25_K1 = 1.2
BM25_B = 0.75
# rank-profile bm25_full (doc.sd:139-143):
#   bm25(title) + 0.8*bm25(content) + 0.5*bm25(description)
BM25_FULL_WEIGHTS = {"title": 1.0, "content": 0.8, "description": 0.5}
# hybrid chunk arm (doc.sd:165-176): bm25(title) + bm25(chunk_content)
BM25_CHUNK_WEIGHTS = {"title": 1.0, "chunk_content": 1.0}
HYBRID_SIGMOID_SCALE = 5.0     # doc.sd:171: 1/(1+exp(-x/5))
HYBRID_BM25_WEIGHT = 0.5       # doc.sd:171
HYBRID_SEM_WEIGHT = 0.5        # doc.sd:171

# indexed fields (doc.sd fieldset default :107-109)
INDEXED_FIELDS = ("title", "content", "description", "chunk_content")

# --- API semantics (api/main.py:547-564) ---
DEFAULT_LIMIT = 10
MAX_LIMIT = 50
SEARCH_TYPES = ("bm25", "semantic", "hybrid")
SNIPPET_FALLBACK_CHARS = 250   # api/main.py:503

# --- per-domain cap (indexer/indexer.py:455-456) ---
PER_DOMAIN_CAP = 10000

# --- embeddings (doc.sd:50, indexer/indexer.py:58) ---
EMBEDDING_DIM = 384


@dataclass
class IndexConfig:
    """Physical layout and BM25 constants of one index store.

    The build records it in the store's manifest
    (``IndexStore.save_config``), and every later reader takes it from
    there (``IndexStore.saved_config``): ``SearchEngine``,
    ``ResidentSearcher`` and ``compact_tiered`` when no ``cfg`` is passed,
    and ``stream_index_deltas`` always -- a delta stream raises on a
    ``cfg`` that differs from the saved one, since its segments must
    share the base's shard/bucket geometry and block bounds.

    Defaults are sized for local[32] testing; on a real cluster raise
    ``num_doc_shards`` to ~2-4x total cores.  Head-term skew needs no
    knob: the postings encode emits chunk-bounded partial runs and the
    merge accepts any number of runs per term (index_build module
    docstring).
    """

    num_doc_shards: int = 32          # doc-partitioned serve shards
    block_size: int = 128             # postings per compressed block
    # ignored (the build salts nothing); kept so existing callers
    # (bench.py) and saved manifests, which IndexStore.saved_config()
    # reads back into an IndexConfig, still construct
    heavy_term_df: int = 100_000
    num_salts: int = 8
    term_buckets: int = 64            # tbucket values; postings and
                                      # term_dict files sort by tbucket so
                                      # row-group stats prune by term
    encode_buckets: int = 8           # term-hash buckets per shard for the
                                      # merge kernel (merge tasks per
                                      # shard = encode_buckets)
    shard_groups: int = 8             # checkpoint granularity for postings
    k1: float = BM25_K1
    b: float = BM25_B
    fields: tuple = INDEXED_FIELDS
    field_weights: dict = field(default_factory=lambda: dict(BM25_FULL_WEIGHTS))
    embedding_dim: int = EMBEDDING_DIM
    # semantic-LSH serve path: attributes carry a precomputed
    # random-hyperplane sign bucket over the stored embedding, so
    # semantic_mode="lsh" prunes candidates instead of brute-force scanning
    # every chunk (operators/similarity.py docstring promise)
    sem_lsh_planes: int = 8
    sem_lsh_seed: int = 42
    sem_lsh_probe_radius: int = 2
    # graph-ANN serve index (operators/graph_ann.py): per-shard HNSW over
    # stored chunk embeddings, the faithful analog of the reference's
    # Vespa hnsw attribute (doc.sd:55-60 max-links-per-node /
    # neighbors-to-explore-at-insert).  Off by default: the lsh path
    # already serves semantic queries; enabling adds a "graph" build
    # stage and unlocks semantic_mode="graph".
    graph_ann: bool = False
    graph_m: int = 16                 # max-links-per-node (doc.sd:57)
    graph_ef_construction: int = 200  # neighbors-to-explore-at-insert (doc.sd:58)
    graph_ef_search: int = 64         # targetHits exploration analog
    graph_seed: int = 42

    def __post_init__(self):
        # sem_bucket is stored as int32 in attributes; >=31 planes would
        # wrap the stored bucket while query-side probes compute unbounded
        # python ints -- a legal-looking config that silently returns zero
        # lsh-mode candidates.  Fail loudly at construction instead.
        if not 1 <= self.sem_lsh_planes <= 30:
            raise ValueError(
                f"sem_lsh_planes must be in [1, 30] (int32 sem_bucket), "
                f"got {self.sem_lsh_planes}"
            )
