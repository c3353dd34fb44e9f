import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chavinha_mini_search_engine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("chavinha-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tiny_pages(spark, tmp_path_factory):
    from chavinha_mini_search_engine_spark.fixtures.pages import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages") / "tiny")
    write_pages_parquet(spark, path, n=200)
    return path


@pytest.fixture(scope="session")
def built(spark, tiny_pages, tmp_path_factory):
    """Full index over the tiny corpus, shared by parity/API/plan tests."""
    from chavinha_mini_search_engine_spark.operators.index_build import build_index
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore
    from tests.parity_cfg import CFG

    root = str(tmp_path_factory.mktemp("index") / "idx")
    store = IndexStore(root, build_id="parity-build")
    pages = spark.read.parquet(tiny_pages)
    build_index(spark, pages, store, CFG)
    return store


@pytest.fixture(scope="session")
def delta_store(spark, tmp_path_factory):
    """Base build + two streamed delta segments, shared by the serve and
    postings-layout tests: the streaming tests' shape, except that the default shard_groups=8 over 4 shards leaves
    four postings shard-groups empty (committed parts with zero rows)."""
    from chavinha_mini_search_engine_spark.fixtures.pages import generate_pages
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore
    from chavinha_mini_search_engine_spark.streaming import incremental

    cfg = IndexConfig(num_doc_shards=4, term_buckets=8)
    rows = generate_pages(40, include_edges=False)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    base_dir = str(tmp_path_factory.mktemp("lay") / "pages")
    spark.createDataFrame(rows[:30], schema).write.parquet(base_dir)
    store = IndexStore(str(tmp_path_factory.mktemp("lay") / "i"),
                       build_id="layout")
    build_index(spark, spark.read.parquet(base_dir), store, cfg,
                with_embeddings=True, verify_text_invariant=False)
    delta_dir = str(tmp_path_factory.mktemp("lay") / "delta")
    # 8 files, maxFilesPerTrigger=4 -> 2 micro-batches
    spark.createDataFrame(rows[30:], schema).repartition(8).write.parquet(delta_dir)
    # no cfg: the stream must take the store's saved layout
    incremental.stream_index_deltas(
        spark, delta_dir, store,
        checkpoint_dir=str(tmp_path_factory.mktemp("lay") / "ckpt"),
    ).awaitTermination(600)
    return store, cfg
