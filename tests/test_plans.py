"""Physical-plan assertions: the properties the 100 TB design depends on
must be visible in .explain("formatted") (SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F

from chavinha_mini_search_engine_spark.operators import bm25_df, similarity
from chavinha_mini_search_engine_spark.plans.explain import (
    assert_column_pruned,
    count_codegen_spans,
    formatted_plan,
    has_broadcast_join,
    read_schemas,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_lang_filter_pushed_to_scan(spark, docs):
    df = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    assert any(
        "lang" in ln and ("EqualTo" in ln or "IsNotNull" in ln)
        for ln in plan.splitlines() if "PushedFilters" in ln
    ), plan


def test_column_pruning_two_col_projection(spark, docs):
    df = docs.select("doc_id", "n_chars")
    assert_column_pruned(df, {"doc_id", "n_chars"})


def test_tokenize_tf_prunes_to_text(spark, docs):
    df = bm25_df.doc_terms(docs, "doc_id", "text")
    # the scan must not read lang/source/n_chars
    assert_column_pruned(df, {"doc_id", "text"})


def test_bm25_plan_broadcasts_and_codegens(spark, docs):
    df = bm25_df.bm25_topk_df(docs, "spark hash join table", 10)
    assert has_broadcast_join(df), formatted_plan(df)
    assert count_codegen_spans(df) >= 3, formatted_plan(df)
    # top-k compiles to TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_cosine_topk_vectorized_arrow(spark):
    """Cosine is one batched numpy matmul per Arrow batch (ArrowEvalPython
    / pandas UDF) -- NOT row-at-a-time pickled Python (BatchEvalPython),
    and not the interpreted HOF fold it replaced (guide §4.2: the
    aggregate/zip_with lambdas are evaluated per element outside codegen;
    the batched kernel measured 3-7x faster on the bench ops).  Top-k must
    still compile to TakeOrderedAndProject."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.first()["embedding"]
    df = similarity.cosine_topk(emb, q, 10)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan, "row-at-a-time Python is banned"
    assert "ArrowEvalPython" in plan, "expected the vectorized Arrow kernel"
    assert "TakeOrderedAndProject" in plan


def test_enrichment_scan_prunes_by_shard(spark, built):
    """The <=k-row enrichment fetch must hit only the hit ids' shard
    partitions of the unified doc store (PartitionFilters), not scan the
    widest table."""
    from chavinha_mini_search_engine_spark.operators.search import SearchEngine
    from tests.parity_cfg import CFG

    eng = SearchEngine(spark, built, CFG, cache=False)
    some_ids = [r["id"] for r in built.read(spark, "unified").limit(3).collect()]
    plan = formatted_plan(eng._enrich_scan(some_ids))
    assert "PartitionFilters" in plan
    assert any(
        "shard" in ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ), plan


def test_assign_layout_single_wide_exchange(spark, docs):
    """The (shard, local_id) layout must move the wide corpus rows through
    exactly ONE exchange: the explicit shard repartition satisfies both the
    window's distribution and the partitioned write's geometry (the round-1
    double-shuffle was the measured scaling bottleneck)."""
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        assign_layout,
    )

    import re

    u = docs.selectExpr("cast(doc_id as string) AS id", "text AS content")
    out = assign_layout(u, IndexConfig(num_doc_shards=8))
    plan = formatted_plan(out)
    # formatted explain lists each node in the tree AND the detail section;
    # count the numbered detail headers only
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan


def test_postings_scan_prunes_by_tbucket(spark, tiny_pages, tmp_path_factory):
    """Query-term postings reads push ``tbucket IN (...)`` into the parquet
    scan, and every postings file is sorted by tbucket, so the pushed
    filter prunes row groups by their min/max statistics."""
    import glob

    import pyarrow.parquet as pq

    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg = IndexConfig(num_doc_shards=4, shard_groups=2, term_buckets=8)
    store = IndexStore(str(tmp_path_factory.mktemp("pl") / "i"), build_id="plans")
    build_index(spark, spark.read.parquet(tiny_pages), store, cfg,
                with_embeddings=False, verify_text_invariant=False)
    post = store.read(spark, "postings", part="grp=0")
    tids = [r["tid"] for r in store.read(spark, "term_dict")
            .filter(F.col("term") == "python").collect()]
    assert tids
    pruned = post.filter(F.col("tbucket").isin([1, 2]) & F.col("tid").isin(tids))
    plan = formatted_plan(pruned)
    assert any(
        "In(tbucket" in ln for ln in plan.splitlines() if "PushedFilters" in ln
    ), plan
    files = glob.glob(store.path("postings", "*/*.parquet"))
    assert files
    for f in files:
        tb = pq.read_table(f, columns=["tbucket"]).column("tbucket").to_pylist()
        assert tb == sorted(tb), f


def test_tf_pipeline_single_doc_grain_exchange(spark, docs):
    """The stats stage's tf pipeline (pre-shard repartition -> tokenize
    groupBy -> sortWithinPartitions) must contain exactly ONE exchange,
    and it must sit BELOW the aggregate (i.e. it moves doc-grain text
    rows, not posting-grain tf rows): HashPartitioning on `shard`
    satisfies the agg's ClusteredDistribution (shard is an agg key) and
    grp = pmod(shard) makes the written layout (grp, shard)-colocated
    without a second posting-grain exchange (BENCH_SCALING.md round 4:
    this replaced 2 posting-grain exchanges, -1.16 GB stats-stage
    shuffle at 480k pages)."""
    import re

    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        field_col,
        tokenize_tf,
    )

    cfg = IndexConfig(num_doc_shards=8, shard_groups=1)
    u = docs.select(
        (F.xxhash64("doc_id") % 8).cast("int").alias("shard"),
        F.col("doc_id").alias("local_id"),
        F.col("text").alias("content"),
        F.lit("t").alias("title"),
        F.lit("d").alias("description"),
        F.lit(None).cast("string").alias("chunk_content"),
    )
    tf = tokenize_tf(u.repartition(8, "shard"), cfg)
    tf = tf.withColumn("grp", F.pmod(F.col("shard"), F.lit(1)).cast("int"))
    tf = tf.withColumn("tid", F.xxhash64(field_col(cfg), F.col("term")))
    out = tf.sortWithinPartitions("grp", "shard", "tid", "local_id")
    plan = formatted_plan(out)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    # the one exchange must be the doc-grain repartition below the agg:
    # in the numbered bottom-up detail listing the Exchange node appears
    # before (smaller id than) every HashAggregate
    ex_ids = [int(m.group(1)) for m in
              re.finditer(r"^\((\d+)\) Exchange", plan, re.M)]
    agg_ids = [int(m.group(1)) for m in
               re.finditer(r"^\((\d+)\) (?:\w*)HashAggregate", plan, re.M)]
    assert agg_ids and max(ex_ids) < min(agg_ids), plan
