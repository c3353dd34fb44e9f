"""Spark runs a job only where table rows move.

``IndexStore.read``/``read_parts`` pass Spark the schema that Spark
recorded in each dir's parquet footer, so a read plans without the
one-task schema-inference job ``spark.read.parquet`` runs for every dir;
a table written by pyarrow (no Spark schema in its footer) keeps the
inferred read.  Driver-side lists enter Spark as Arrow local relations
(``LocalTableScan``), not as Python RDD scans; a dict of a few entries
(the stream's id offsets) enters as a literal map, with no relation.
"""

import os
import re
import shutil
import time

import pytest

from chavinha_mini_search_engine_spark.fixtures.pages import generate_pages
from chavinha_mini_search_engine_spark.plans.explain import formatted_plan
from chavinha_mini_search_engine_spark.sources.tables import IndexStore

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _scans_of(plan: str, output: str) -> set:
    """Names of the formatted plan's leaf scans whose output columns are
    ``output`` (names without their expression ids)."""
    names = set()
    for name, cols in re.findall(r"\(\d+\) ([^\n\[]+?)(?: \[codegen[^\n]*)?\n"
                                 r"Output \[\d+\]: \[([^\]]*)\]", plan):
        if ("Scan" in name and [re.sub(r"#\d+L?$", "", c)
                                for c in cols.split(", ")] == output.split()):
            names.add(name)
    return names


def _jobs_run_by(spark, fn):
    """(fn's result, the ids of the Spark jobs fn ran), counted under a job
    group of their own.  Job-start events reach the status tracker through
    the async listener bus, in order: once a later sentinel job is seen,
    every job fn started has been recorded."""
    sc = spark.sparkContext
    group = f"schema-reads-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    out = fn()
    sc.setJobGroup(group + "-sentinel", "sentinel")
    sc.parallelize([0], 1).count()
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(group + "-sentinel"):
        assert time.time() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def streamed(spark, built, tmp_path_factory):
    """A copy of the built store plus two streamed micro-batches."""
    from chavinha_mini_search_engine_spark.streaming import incremental

    root = str(tmp_path_factory.mktemp("sr") / "idx")
    shutil.copytree(built.root, root)
    pages = str(tmp_path_factory.mktemp("sr") / "pages")
    # 8 files, maxFilesPerTrigger=4 -> 2 micro-batches
    spark.createDataFrame(
        generate_pages(24, include_edges=False), PAGES_DDL,
    ).repartition(8).write.parquet(pages)
    q = incremental.stream_index_deltas(
        spark, pages, IndexStore(root),
        checkpoint_dir=str(tmp_path_factory.mktemp("sr") / "ckpt"))
    q.awaitTermination(600)
    store = IndexStore(root)
    assert len(store.committed_parts("unified_delta")) == 2
    return store


SPARK_TABLES = ("docs", "chunks", "unified", "tf", "doclens", "term_dict",
                "attributes")
SERVED_TABLES = ("postings", "unified", "attributes")


def test_store_reads_take_the_footer_schema_and_run_no_job(spark, streamed):
    """Every Spark-written table of a built and streamed store reads with
    the schema Spark's inference gives, and plans without a job."""
    store = streamed
    reads = (
        [(t, store.path(t), lambda t=t: store.read(spark, t))
         for t in SPARK_TABLES]
        + [(f"{t}/{p}", store.path(t, p), lambda t=t, p=p: store.read(spark, t, p))
           for t in ("postings", "unified_delta", "attributes_delta")
           for p in store.committed_parts(t)]
    )
    # 7 tables, 4 postings groups + 2 postings, 2 unified and 2 attribute
    # segments
    assert len(reads) == 17
    for name, path, read in reads:
        df, jobs = _jobs_run_by(spark, read)
        assert jobs == [], f"{name}: {jobs}"
        assert df.schema == spark.read.parquet(path).schema, name
    for t in SERVED_TABLES:
        df, jobs = _jobs_run_by(spark, lambda t=t: store.read_parts(spark, t))
        assert jobs == [], f"{t}: {jobs}"
        inferred = [spark.read.parquet(d) for d in store.segment_dirs(t)]
        assert df.schema == inferred[0].schema, t
        assert df.count() == sum(d.count() for d in inferred), t


@pytest.mark.parametrize("table", ["corpus_stats", "build_metrics"])
def test_pyarrow_written_table_keeps_the_inferred_read(spark, streamed, table):
    """corpus_stats and build_metrics are written with pyarrow: no Spark
    schema in their footers, so they read as Spark infers them."""
    df = streamed.read(spark, table)
    assert df.schema == spark.read.parquet(streamed.path(table)).schema
    assert df.count() > 0


def test_scan_unit_frame_is_a_local_relation(spark, built):
    """The postings encode's (file, row-group) unit list plans as a
    LocalTableScan, not a Python RDD scan."""
    from chavinha_mini_search_engine_spark.operators.index_build import (
        build_postings_for,
        tf_scan_units,
    )

    cfg = built.saved_config()
    units = tf_scan_units(built.path("tf", "grp=0"))
    assert units
    avgdl = {f: a for f, (_n, a) in built.corpus_stats().items()}
    blocks = build_postings_for(built.read(spark, "tf"),
                                built.read(spark, "term_dict"), avgdl, cfg,
                                scan_units=units)
    plan = formatted_plan(blocks)
    assert _scans_of(plan, "path rg") == {"LocalTableScan"}
    assert "Scan ExistingRDD" not in plan


def test_stream_offsets_are_a_literal_map(spark, built, tmp_path_factory):
    """The stream's per-batch id offsets enter the plan as a literal map
    lookup on ``shard``: no offsets relation is scanned or joined, so
    shipping them runs no job."""
    from chavinha_mini_search_engine_spark.streaming import incremental

    root = str(tmp_path_factory.mktemp("so") / "idx")
    shutil.copytree(built.root, root)
    pages = str(tmp_path_factory.mktemp("so") / "pages")
    spark.createDataFrame(
        generate_pages(6, include_edges=False), PAGES_DDL,
    ).coalesce(1).write.parquet(pages)
    plans = []
    orig = IndexStore.write

    def capture(self, df, table, *args, **kwargs):
        if table == "unified_delta":
            plans.append(formatted_plan(df))
        return orig(self, df, table, *args, **kwargs)

    IndexStore.write = capture
    try:
        q = incremental.stream_index_deltas(
            spark, pages, IndexStore(root),
            checkpoint_dir=str(tmp_path_factory.mktemp("so") / "ckpt"))
        q.awaitTermination(600)
    finally:
        IndexStore.write = orig
    assert len(plans) == 1
    assert _scans_of(plans[0], "shard max_local") == set()
    assert "BroadcastExchange" not in plans[0]
    assert re.search(r"map\([^()]*\)\[shard#\d+\]", plans[0]), plans[0]


def test_search_results_are_local_relations(spark, built):
    """SearchEngine returns its ranked rows, and an empty result, as local
    relations: collecting them runs no job, and the columns keep the API's
    types."""
    from chavinha_mini_search_engine_spark.operators.search import SearchEngine

    eng = SearchEngine(spark, built, cache=False)
    api = ("struct<rank:int,id:string,url:string,title:string,snippet:string,"
           "domain:string,relevance:double,doc_type:string>")
    for st in ("bm25", "semantic"):
        res = eng.search("python async programming", st, k=5)
        rows, jobs = _jobs_run_by(spark, res.collect)
        assert rows and jobs == [], st
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert res.schema.simpleString() == api
    empty = eng.search("zzzqqqxv", "bm25", k=5)
    rows, jobs = _jobs_run_by(spark, empty.collect)
    assert rows == [] and jobs == []
    assert empty.schema == res.schema
