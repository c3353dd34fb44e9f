"""Structured Streaming: incremental ingest into index delta segments.

The reference has no stream processor -- its incremental semantics are a
resumable crawl loop and a full re-index (SURVEY.md §2.11).  The rebuild
expresses the same capability Spark-first:

- ``stream_index_deltas``: a file-source stream whose foreachBatch turns
  each micro-batch of new pages into a posting-list DELTA segment (same
  block format, written under postings/delta=<epoch>_<batch_id>/).  Every
  reader takes base + deltas from ``IndexStore.segment_dirs`` -- the
  Lucene-segment pattern.  Deltas inherit the BASE build's corpus stats
  (idf/avgdl), so scores drift as the corpus grows; compaction refreshes
  them -- the documented Lucene/Vespa tradeoff.  ``compact_tiered``
  re-tokenizes only the deltas and keeps the base posting blocks.
  Exactly-once via the stream checkpoint plus the per-batch manifest
  commit; restart resumes from the last committed micro-batch -- the
  streaming twin of the crawler's state file (doc_scraper.py:237-291).
  Each micro-batch is scanned, extracted and tokenized once for its
  three concurrent table writes; a batch with no ``en`` page commits
  nothing.  Streamed docs carry null embeddings, which compaction keeps
  null.  Segment id offsets are read once per stream
  (``IndexStore.segment_offsets``) and advanced by each batch.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..fixtures.pages import PAGES_DDL_COLUMNS
from ..sources.tables import DOC_STORE_WRITE_OPTS, IndexStore


def stream_index_deltas(
    spark: SparkSession,
    pages_dir: str,
    store: IndexStore,
    cfg: Optional[IndexConfig] = None,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
):
    """Micro-batches of new pages -> posting delta segments in ``store``.

    Requires a completed base build in ``store`` (corpus stats + dictionary
    are reused for delta scoring).  Each batch appends one segment: a
    delta=<epoch>_<bid> part of ``postings``, ``attributes_delta`` and
    ``unified_delta``, committed together in the manifest.

    A batch is laid out once.  The extracted docs and the offset-shifted
    unified rows are cached; one per-shard max(local_id) job over the
    cached rows materializes them and gives the batch's new offsets
    (recorded in its commit as ``max_local``), and
    an empty result (no ``en`` page) ends the batch with no segment and
    no commit.  tf is computed once for postings and attributes, the
    three tables are written concurrently, and the cache is dropped once
    every write has returned or raised.

    The deltas take the store's saved config: their docs must hash into
    the base's shards, their postings into its term buckets, and their
    block bounds must use its k1/b.  A ``cfg`` that differs from the saved
    one raises ``ValueError`` before any Spark work.
    """
    saved = store.saved_config()
    if cfg is not None and cfg != saved:
        raise ValueError(
            f"cfg differs from the store's saved index config: {cfg} != "
            f"{saved}; stream without cfg to use the saved one"
        )
    cfg = saved
    from ..operators.chunk import chunk_docs
    from ..operators.extract import extract_docs
    from ..operators.index_build import (
        attributes,
        build_postings_for,
        literal_lookup,
        tokenize_tf,
        unified_corpus,
    )

    avgdl = {f: a for f, (_n, a) in store.corpus_stats().items()}
    tdict = store.read(spark, "term_dict")
    epoch = int(time.time())
    # a stable id for this (store, checkpoint) stream lineage: lets a
    # replayed micro-batch recognize its own already-committed segment
    # (crash between manifest commit and checkpoint commit) without
    # colliding with batch ids from a DIFFERENT checkpoint generation
    import hashlib

    stream_id = (
        hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]
        if checkpoint_dir else None
    )

    # Crash hygiene before the offsets are read: a writer that died
    # between the segment writes and the manifest commit left orphan
    # delta parts on disk that the read paths must never union (they'd
    # alias the retry segment's (shard, local_id) slots).  Their batch was
    # never checkpoint-committed either, so the source will replay it:
    # removing them is a pure self-heal (the Iceberg uncommitted-data-file
    # analog).  Steady state: zero orphans, one listdir per table.
    gc = store.gc_orphan_parts(["postings", "attributes_delta", "unified_delta"])
    if gc:
        print(f"stream_index_deltas: removed orphan uncommitted parts {gc}")
    # per-shard max local_id over base + committed segments, from footers
    # and commit records; each committed batch then advances it in place
    offs = store.segment_offsets()

    def _already_committed(batch_id: int) -> bool:
        """True iff THIS stream lineage already committed this micro-batch
        (crash after manifest commit, before checkpoint commit).  Keyed on
        (stream_id, batch_id): bare batch ids restart at 0 per checkpoint
        generation, so they alone cannot identify a batch."""
        if stream_id is None:
            return False
        parts = store.manifest["stages"].get("stream_deltas", {}).get("parts", {})
        return any(
            p.get("status") == "done"
            and p.get("metrics", {}).get("stream_id") == stream_id
            and p.get("metrics", {}).get("batch_id") == batch_id
            for p in parts.values()
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _already_committed(batch_id):
            return
        # uncached, every action re-scans the batch's source files and
        # re-runs extraction (the docs feed both branches of the unified
        # rows, which with their tf feed three writes)
        cached = []

        def keep(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        try:
            docs = keep(extract_docs(batch_df).withColumn(
                "content_embedding", F.lit(None).cast("array<float>")
            ))
            chunks = chunk_docs(docs).withColumn(
                "chunk_embedding", F.lit(None).cast("array<float>")
            )
            u = unified_corpus(docs, chunks, cfg)
            # shift local ids past every already-written segment's ids per
            # shard so delta postings never collide with base or
            # earlier-delta postings; the offsets enter the plan as a
            # literal map (no relation, so no job)
            max_local = literal_lookup(offs, F.col("shard"), "bigint")
            u = keep(u.withColumn(
                "local_id",
                F.col("local_id") + F.coalesce(max_local + 1, F.lit(0)),
            ))
            # one job materializes the cached rows and yields the batch's
            # new per-shard maxima; no row (no `en` page) -> no segment
            batch_max = (
                u.groupBy("shard").agg(F.max("local_id").alias("max_local"))
                .collect()
            )
            if not batch_max:
                return
            part = f"delta={epoch}_{batch_id}"
            tf = keep(tokenize_tf(u, cfg))
            writes = [
                lambda: store.write(build_postings_for(tf, tdict, avgdl, cfg),
                                    "postings", part=part),
                lambda: store.write(attributes(u, cfg, tf=tf),
                                    "attributes_delta", part=part),
                lambda: store.write(u, "unified_delta", part=part,
                                    options=DOC_STORE_WRITE_OPTS),
            ]
            # job groups are thread-local: the pool's jobs join the
            # stream's group, which stopping the query cancels
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

            def in_stream_group(write) -> None:
                spark.sparkContext.setJobGroup(group, f"stream {part}", True)
                write()

            # the three writes are independent jobs over the cached rows;
            # leaving the pool waits for all of them, also when one raised
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                futures = [pool.submit(in_stream_group, w) for w in writes]
            for f in futures:
                f.result()
        finally:
            for df in cached:
                df.unpersist()
        # the commit records the segment's maxima (segment_offsets reads
        # them at the next stream start); this stream advances in place
        max_local = {int(r["shard"]): int(r["max_local"]) for r in batch_max}
        store.finish_part("stream_deltas", part, {
            "batch_id": batch_id, "stream_id": stream_id,
            "max_local": {str(s): m for s, m in max_local.items()},
        })
        offs.update(max_local)

    src = (
        spark.readStream.schema(PAGES_DDL_COLUMNS)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )
    writer = src.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

