"""Shared index configuration for the end-to-end test fixtures."""

from chavinha_mini_search_engine_spark.operators.index_build import IndexConfig

CFG = IndexConfig(
    num_doc_shards=8, shard_groups=4, term_buckets=16,
)
