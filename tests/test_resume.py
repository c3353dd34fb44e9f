"""Checkpoint/resume (SURVEY.md §5.2 test 5, north_rule resumability).

Kill a build mid-postings, restart with the same build_id: completed
stages/shard-groups must be skipped (manifest timestamps untouched) and the
final tables must be identical to an uninterrupted build.
"""

import threading

import pytest

from chavinha_mini_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
)
from chavinha_mini_search_engine_spark.sources.tables import IndexStore

CFG = IndexConfig(
    num_doc_shards=8, shard_groups=4, term_buckets=16,
)


class _Boom(RuntimeError):
    pass


def _collect(store, spark, table, parts=False):
    df = store.read_parts(spark, table) if parts else store.read(spark, table)
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())


@pytest.mark.slow
def test_resume_identical(spark, tiny_pages, tmp_path_factory):
    pages = spark.read.parquet(tiny_pages)

    # uninterrupted reference build
    a = IndexStore(str(tmp_path_factory.mktemp("ra") / "idx"), build_id="bb")
    build_index(spark, pages, a, CFG, with_embeddings=False)

    # interrupted build: the first 2 postings shard-groups to finish
    # commit, every later one dies before its commit.  The groups run
    # concurrently, so the crash must not depend on which threads are
    # still running when the first exception surfaces.
    b_root = str(tmp_path_factory.mktemp("rb") / "idx")
    b = IndexStore(b_root, build_id="bb")
    orig = IndexStore.finish_part
    lock = threading.Lock()
    calls = {"n": 0}

    def bomb(self, stage, part, metrics=None):
        with lock:
            calls["n"] += 1
            n = calls["n"]
        if n > 2:
            raise _Boom()
        orig(self, stage, part, metrics)

    # the postings stage scopes its Arrow batch size to itself, also when
    # a shard-group raises
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch_before = spark.conf.get(batch_key)
    IndexStore.finish_part = bomb
    try:
        with pytest.raises(_Boom):
            build_index(spark, pages, b, CFG, with_embeddings=False)
    finally:
        IndexStore.finish_part = orig
    assert spark.conf.get(batch_key) == batch_before

    # record what finished before the crash
    b2 = IndexStore(b_root, build_id="bb")  # reload manifest from disk
    done_parts = {
        p: v["finished_ts"]
        for p, v in b2.manifest["stages"]["postings"].get("parts", {}).items()
        if v.get("status") == "done"
    }
    assert len(done_parts) == 2
    docs_ts = b2.manifest["stages"]["docs"]["finished_ts"]

    # resume
    build_index(spark, pages, b2, CFG, with_embeddings=False)

    # completed work was skipped, not redone
    assert b2.manifest["stages"]["docs"]["finished_ts"] == docs_ts
    for p, ts in done_parts.items():
        assert b2.manifest["stages"]["postings"]["parts"][p]["finished_ts"] == ts

    # outputs identical to the uninterrupted build
    for table, parts in [
        ("unified", False), ("term_dict", False), ("corpus_stats", False),
        ("doclens", False), ("postings", True), ("attributes", False),
    ]:
        assert _collect(a, spark, table, parts) == _collect(b2, spark, table, parts), table


def _check_build_metrics(store, spark):
    """build_metrics rows (one per shard) sum to the manifest's
    postings-part metrics and to sum(n) of the stored postings."""
    import pyarrow.dataset as pads
    from pyspark.sql import functions as F

    rows = pads.dataset(store.path("build_metrics"), format="parquet",
                        partitioning="hive").to_table().to_pylist()
    assert rows and all(r["stage"] == "postings" for r in rows)
    assert all(r["build_id"] == store.build_id for r in rows)
    by_shard = {r["shard"]: r["rows"] for r in rows}
    assert len(by_shard) == len(rows)  # one row per shard
    assert by_shard == {
        r["shard"]: r["n"] for r in store.read_parts(spark, "postings")
        .groupBy("shard").agg(F.sum("n").alias("n")).collect()
    }
    parts = [p["metrics"] for p in
             store.manifest["stages"]["postings"]["parts"].values()]
    assert sum(p["postings"] for p in parts) == sum(by_shard.values())
    assert sum(p["bytes_compressed"] for p in parts) == sum(
        r["bytes_compressed"] for r in rows)


def test_build_from_docs_matches_build_index(spark, tiny_pages,
                                              tmp_path_factory):
    """build_index is its docs stage plus build_index_from_docs: indexing
    the stored docs table of a page build through build_index_from_docs
    gives the same tables, and both record build_metrics."""
    from chavinha_mini_search_engine_spark.operators.index_build import (
        build_index_from_docs,
    )

    a = IndexStore(str(tmp_path_factory.mktemp("fa") / "idx"), build_id="fa")
    build_index(spark, spark.read.parquet(tiny_pages), a, CFG,
                with_embeddings=False)
    b = IndexStore(str(tmp_path_factory.mktemp("fb") / "idx"), build_id="fb")
    build_index_from_docs(spark, a.read(spark, "docs"), b, CFG)

    assert a.saved_config() == b.saved_config() == CFG
    for stage in ("docs", "chunks"):
        assert (a.manifest["stages"][stage]["metrics"]["rows"]
                == b.manifest["stages"][stage]["metrics"]["rows"] > 0)
    for table, parts in [
        ("unified", False), ("tf", False), ("term_dict", False),
        ("corpus_stats", False), ("doclens", False), ("postings", True),
        ("attributes", False),
    ]:
        assert _collect(a, spark, table, parts) == _collect(b, spark, table, parts), table
    _check_build_metrics(a, spark)
    _check_build_metrics(b, spark)


def test_build_restores_the_callers_job_group(spark, tiny_pages, built,
                                              tmp_path):
    """build_index labels its stages' jobs ``build:<stage>`` and hands the
    caller's thread back with the job group it came with (a resume over a
    built copy still runs the postings stage's tagged verify)."""
    import shutil

    root = str(tmp_path / "idx")
    shutil.copytree(built.root, root)
    store = IndexStore(root)
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's jobs")
    try:
        before = sc.getLocalProperty("spark.jobGroup.id")
        build_index(spark, spark.read.parquet(tiny_pages), store,
                    store.saved_config())
        assert sc.getLocalProperty("spark.jobGroup.id") == before == "caller"
        assert sc.getLocalProperty("spark.job.description") == \
            "the caller's jobs"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
