"""Inverted-index build pipeline (SURVEY.md T1-T7, §3.2).

pages -> docs -> chunks -> unified corpus -> tf/df/length stats ->
map-side partial-run encode -> multi-way merge -> postings + term_dict +
corpus_stats + attributes, all checkpointed per stage (and per shard-group
for the postings stage) through the IndexStore manifest.

Scale design (the part that must survive 10^12 docs):

- **Document-partitioned serve layout** (like Lucene segments / Vespa
  content nodes): every doc lands in one of ``num_doc_shards`` shards
  (hash of id) with a dense ``local_id``; posting lists are built per
  (field, term, shard).  A head term's global posting list is therefore
  *structurally* split across shards -- no single task ever holds a full
  web-scale stopword list.
- **Explicit skew handling inside a shard** (north_rule): the encode is a
  narrow map over the tf scan that emits one compressed partial run per
  (shard, term) per input chunk (T6), so every run is bounded by the
  chunk size however large the term's df; the k-way merge (T7) accepts
  any number of runs per term.  AQE cannot split a single hot groupBy
  key; here no posting-grain groupBy key exists.
- **All relational steps are DataFrame ops**: tokenize = split/filter
  (whole-stage codegen), tf = hash aggregate with map-side partial
  aggregation, df/idf = second hash aggregate, stats = tiny agg.  Python
  touches only the two kernels (encode, merge) via Arrow.
- **Shuffles**: (1) unified repartition by shard for local_id assignment,
  (2) one doc-grain repartition by shard before tokenize (the tf agg and
  the tf write reuse its distribution), (3) the df groupBy(fidx, term)
  and the doclens pivot, both collapsed map-side, (4) merge
  groupBy(shard, mkey) -- input is already run-compressed, a few bytes
  per posting.  Nothing shuffles raw HTML.
- **Postings layout**: flat block rows keyed by the int64 term id
  ``tid = xxhash64(field, term)`` (``term_dict`` alone maps (field, term)
  to it; postings hold no string), carrying their dictionary row's
  tbucket = hash(term) % term_buckets as a plain column, sorted by it
  within each write task's one file (``term_dict`` likewise).  A query's
  ``tbucket IN (...)`` filter is pushed into the parquet scan and prunes
  by row-group min/max statistics, so no part fans out into a file per
  bucket, each paying a commit and a resident-load open.
"""

from __future__ import annotations

import functools
import os
import time
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..functions.tokenizer import tokens_col
from ..sources.tables import DOC_STORE_WRITE_OPTS, IndexStore
from .chunk import chunk_docs
from .embed import embed_chunks, embed_docs
from .extract import extract_docs

# partial runs: per-posting payload is (gap, tf, dl) -- all varbyte,
# ~3-4 B/posting; no f64 score crosses the merge exchange.
# fidx indexes cfg.fields (tid = xxhash64(field, term) pins one field per
# tid, so fidx is constant per segment); the merge kernel recomputes the
# idf-free tf-norm from (tf, dl) and idf re-attaches at block grain.
RUN_SCHEMA_DL = (
    "tid long, shard int, fidx tinyint, n long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary"
)

POSTINGS_SCHEMA_TFNORM = (
    "tid long, shard int, block_idx int, first_local long, "
    "last_local long, n int, max_tfnorm double, doc_bytes binary, tf_bytes binary"
)


def tbucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def field_col(cfg: "IndexConfig"):
    """Re-materialize the field STRING (position in cfg.fields) from the
    dense ``fidx`` tinyint.  Used only where the string is semantically required
    (the term-id hash, the vocab-grain dictionary) -- the posting-grain
    tables themselves never store it (tokenize_tf docstring)."""
    return F.element_at(
        F.array(*[F.lit(f) for f in cfg.fields]),
        F.col("fidx").cast("int") + 1,
    )


# ---------- kernels ----------


def _encode_partial_runs(batches):
    """mapInPandas kernel: NARROW (shuffle-free) partial-run encoding.

    Accumulates input batches to ~1.5M-row chunks, then emits one
    compressed sorted run per (shard, tid) segment found in the chunk.
    There is NO posting-grain exchange at all: the only shuffle in the
    postings stage is the merge stage's run-grain exchange, whose rows
    are delta+varbyte-compressed.  A term seen by many chunks yields many
    partial runs and the k-way merge kernel accepts any run count per
    term, so head-term skew needs no salting -- any single run is
    bounded by the chunk size.

    The per-posting payload is (doc gap, tf, dl) -- all varbyte, ~3-4 B
    -- not an f64 BM25 contribution (8 B/posting uncompressed): the
    merge kernel recomputes the idf-free tf-norm from (tf, dl), and idf
    multiplies in at BLOCK grain after the dictionary join, so no
    posting-grain row joins the dictionary (at web-scale vocab that join
    would be a second full-corpus shuffle).

    Segment counts per chunk approach the per-chunk vocabulary, so the
    encode is vectorized across segments (one lexsort, one gap pass, one
    varbyte_encode_segmented call per column); the only per-segment
    python work is buffer slicing.
    """
    chunk_rows = int(os.environ.get("SPARK_GRAFT_ENCODE_CHUNK", "1500000"))
    buf: list = []
    nb = 0
    # maybe_sorted: batches of one scan partition arrive in file order,
    # so when the tf table was written sortWithinPartitions(shard, tid,
    # local_id) the concatenated chunk is already in kernel order; the
    # kernel VERIFIES before skipping its sort, so unsorted producers
    # (streaming micro-batches) are still correct
    for pdf in batches:
        if len(pdf) == 0:
            continue
        buf.append(pdf)
        nb += len(pdf)
        if nb >= chunk_rows:
            yield _encode_chunk(
                pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0],
                maybe_sorted=True,
            )
            buf, nb = [], 0
    if nb:
        yield _encode_chunk(
            pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0],
            maybe_sorted=True,
        )


ENCODE_COLS = ["tid", "shard", "fidx", "local_id", "tf", "dl"]


def _is_kernel_sorted(shard: np.ndarray, tid: np.ndarray,
                      lid: np.ndarray) -> bool:
    """True iff rows are ordered by (shard, tid, local_id) -- the tf
    write order.  Three sequential diff passes; no gather."""
    if len(shard) < 2:
        return True
    ds = np.diff(shard)
    if ds.min() < 0:
        return False
    dt = np.diff(tid)
    dl_ = np.diff(lid)
    same_shard = ds == 0
    if np.any(same_shard & (dt < 0)):
        return False
    return not np.any(same_shard & (dt == 0) & (dl_ <= 0))


def _encode_partial_runs_files(batches):
    """mapInPandas kernel over (path, rg) rows: same partial-run encode
    as _encode_partial_runs, but each task reads its parquet ROW GROUPS
    directly with pyarrow instead of receiving posting rows through the
    JVM->python Arrow boundary.

    Why: scripts/boundary_probe.py measured Spark's per-row Arrow
    serialization of a 6-int-column scan at ~1.8 us/row of JVM CPU at
    local[4], inflating ~3.2x at local[16] (the single largest
    non-scaling component left in the build), while a pure-JVM scan of
    the same table costs ~0.1 us/row.  Reading the columnar pages in
    the worker (pruned to the 6 fixed-width columns) keeps the Arrow
    boundary O(runs) -- only the compressed run rows cross it -- instead
    of O(postings).  Spark still plans, schedules, retries, shuffles,
    and commits; the task payload is just a (file, row-group) unit, the
    same reader shape Petastorm/Ray data loaders use over parquet.  On
    a cluster the worker reads from the shared store (HDFS/S3) exactly
    as the JVM scan would.
    """
    import pyarrow.parquet as pq

    chunk_rows = int(os.environ.get("SPARK_GRAFT_ENCODE_CHUNK", "1500000"))
    for pdf in batches:
        for path, rg in zip(pdf["path"], pdf["rg"]):
            tbl = pq.ParquetFile(path).read_row_group(
                int(rg), columns=ENCODE_COLS
            )
            part = tbl.to_pandas()
            del tbl
            # each row group encodes independently (no cross-unit
            # concat): a slice of a row group preserves the tf write's
            # (shard, tid, local_id) order, so every chunk here takes
            # _encode_chunk's sorted fast path; chunk_rows only bounds
            # peak kernel memory for oversized row groups
            for s in range(0, len(part), chunk_rows):
                yield _encode_chunk(
                    part.iloc[s:s + chunk_rows], maybe_sorted=True
                )


def parquet_num_rows(path: str) -> int:
    """Exact row count of a parquet table from file footers -- the same
    value as ``spark.read.parquet(path).count()`` without scheduling a
    Spark job (guide §1.2: count() actions are pure serial per-action
    latency on the build's critical path)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _postings_part_metrics(path: str) -> list:
    """Per-shard (shard, blocks, postings, bytes) of one committed
    postings part, computed driver-side with pyarrow.  Replaces a
    read-back Spark job per shard-group (schema inference + groupBy
    exchange + collect) whose scheduling overhead dominated the build at
    small scale; the values are identical (count, sum(n),
    sum(length(doc_bytes)+length(tf_bytes)) grouped by shard).  The scan
    folds one record batch at a time, so driver memory is O(batch), not
    O(part); integral sums are exact in any order."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    ds = pads.dataset(path, format="parquet", partitioning="hive")
    acc: dict = {}  # shard -> [blocks, postings, bytes]
    for rb in ds.to_batches(columns=["shard", "n", "doc_bytes", "tf_bytes"]):
        shard = rb.column("shard").to_numpy()
        n = rb.column("n").to_numpy()
        blen = (pc.binary_length(rb.column("doc_bytes")).to_numpy()
                + pc.binary_length(rb.column("tf_bytes")).to_numpy())
        for s in np.unique(shard):
            sel = shard == s
            a = acc.setdefault(int(s), [0, 0, 0])
            a[0] += int(sel.sum())
            a[1] += int(n[sel].sum())
            a[2] += int(blen[sel].sum())
    return [
        {"shard": s, "blocks": c, "postings": p, "bytes": by}
        for s, (c, p, by) in sorted(acc.items())
    ]


def _commit_postings_part(store: IndexStore, part: str, wall: float) -> None:
    """Commit a written postings part with its lineage: part metrics in
    the manifest and per-shard ``build_metrics`` rows.  Driver-side
    pyarrow aggregation: same values as a read-back Spark job (groupBy
    shard: count, sum n, sum payload lengths), no job scheduling on the
    critical path."""
    shard_rows = _postings_part_metrics(store.path("postings", part))
    tot_post = sum(r["postings"] for r in shard_rows)
    store.finish_part("postings", part, {
        "blocks": sum(r["blocks"] for r in shard_rows),
        "postings": tot_post,
        "bytes_compressed": sum(r["bytes"] for r in shard_rows),
        "postings_per_sec": tot_post / max(wall, 1e-9),
        "wall_sec": wall,
    })
    store.append_metrics([
        (store.build_id, "postings", r["shard"], r["postings"],
         0.0, float(r["postings"]) / max(wall, 1e-9),
         0, r["bytes"], wall)
        for r in shard_rows
    ])


def tf_scan_units(tf_dir: str) -> list:
    """Driver-side enumeration of (file, row_group) scan units for the
    direct-pyarrow encode path.  Footer reads only -- cheap (one small
    read per file) and equivalent to what Spark's own split planning
    does; row-group granularity keeps parallelism independent of how
    many tasks happened to write the tf table."""
    import glob as _glob

    import pyarrow.parquet as pq

    units = []
    for path in sorted(_glob.glob(os.path.join(tf_dir, "*.parquet"))):
        for rg in range(pq.ParquetFile(path).num_row_groups):
            units.append((path, rg))
    return units


def _encode_chunk(pdf: pd.DataFrame, maybe_sorted: bool = False) -> pd.DataFrame:
    from ..functions.codec import varbyte_encode_segmented

    shard = pdf["shard"].values.astype(np.int64)
    tid = pdf["tid"].values.astype(np.int64)
    fidx = pdf["fidx"].values.astype(np.int8)
    lid = pdf["local_id"].values.astype(np.int64)
    tf = pdf["tf"].values.astype(np.uint64)
    dl = pdf["dl"].values.astype(np.uint64)
    # The stats stage writes tf sortWithinPartitions(shard, tid,
    # local_id), so a chunk that stayed within one row group is already
    # in kernel order -- VERIFY (three sequential diff passes, ~free)
    # and skip the lexsort.  The lexsort's random gather is the
    # engine's least scalable pattern on shared memory systems
    # (measured 3.1x per-row inflation at 16 concurrent workers on
    # identical input, outside Spark); the sorted path replaces it with
    # sequential scans.  The check, not a trusted flag, keeps the
    # kernel correct for any producer (streaming micro-batches, legacy
    # unsorted tf tables).
    if not (maybe_sorted and _is_kernel_sorted(shard, tid, lid)):
        order = np.lexsort((lid, tid, shard))
        shard, tid, fidx, lid = shard[order], tid[order], fidx[order], lid[order]
        tf, dl = tf[order], dl[order]
    chg = (np.diff(tid) != 0) | (np.diff(shard) != 0)
    starts = np.concatenate(([0], np.flatnonzero(chg) + 1))
    ends = np.concatenate((starts[1:], [len(tid)]))
    ns = ends - starts
    gaps = lid.astype(np.uint64)
    gaps[1:] = gaps[1:] - lid[:-1].astype(np.uint64)
    gaps[starts] = lid[starts]
    doc_buf, doc_off = varbyte_encode_segmented(gaps, starts)
    tf_buf, tf_off = varbyte_encode_segmented(tf, starts)
    dl_buf, dl_off = varbyte_encode_segmented(dl, starts)
    doc_mv = memoryview(doc_buf.tobytes())
    tf_mv = memoryview(tf_buf.tobytes())
    dl_mv = memoryview(dl_buf.tobytes())
    return pd.DataFrame({
        "tid": tid[starts],
        "shard": shard[starts].astype(np.int32),
        "fidx": fidx[starts],
        "n": ns.astype(np.int64),
        "doc_bytes": [
            bytes(doc_mv[doc_off[i]:doc_off[i + 1]])
            for i in range(len(starts))
        ],
        "tf_bytes": [
            bytes(tf_mv[tf_off[i]:tf_off[i + 1]])
            for i in range(len(starts))
        ],
        "dl_bytes": [
            bytes(dl_mv[dl_off[i]:dl_off[i + 1]])
            for i in range(len(starts))
        ],
    })


def _make_merge_runs_tfnorm(block_size: int, k1: float, b: float,
                            avgdl_by_fidx: list):
    from ..functions.codec import varbyte_decode

    def _merge_many(pdf: pd.DataFrame) -> pd.DataFrame:
        """Merge mapside dl-payload partial runs: one (shard, mkey)
        bucket -> final block rows per ``tid`` segment, carrying
        ``max_tfnorm`` (the idf-free per-block score bound; idf
        multiplies in after the block-grain dictionary join).

        Fully vectorized across the WHOLE bucket, not per tid: at
        web-scale vocab the zipf tail makes most terms a handful of
        postings, so a per-tid python loop pays ~10s of us of
        interpreter/pandas overhead per TERM and dominates the stage
        (a per-Spark-stage event-log probe measured the loop form at
        400-690 s of task time for a 480k-page build whose actual codec
        work is ~30 s; BENCH_SCALING.md).  Shape mirrors
        _encode_partial_runs: every run payload in the bucket decodes in
        ONE varbyte pass over the concatenated bytes (runs are
        self-delimiting; per-run cumsum re-basing recovers absolute ids
        -- same single-pass decode as the serve kernel,
        search.py:294-305), one lexsort orders postings by
        (tid, id), block boundaries tile each tid segment, and the two
        output columns encode via varbyte_encode_segmented at block
        grain.  Per-block python work is only the final buffer slicing.

        tfnorm = tf / (tf + k1*(1 - b + b*dl/avgdl)) mirrors the serve
        kernel's denominator expression exactly (same f64 op order);
        the stored bound gets a 1e-12 relative bump at the join to
        cover the multiplication-association difference vs the serve
        side's fl(idf*tf/denom) (see build_postings_for).
        """
        from ..functions.codec import varbyte_encode_segmented

        shard = int(pdf["shard"].iloc[0])
        order_runs = np.argsort(pdf["tid"].values, kind="mergesort")
        run_tid = pdf["tid"].values[order_runs].astype(np.int64)
        run_n = pdf["n"].values[order_runs].astype(np.int64)
        run_fidx = pdf["fidx"].values[order_runs].astype(np.int64)
        doc_col = pdf["doc_bytes"].values[order_runs]
        tf_col = pdf["tf_bytes"].values[order_runs]
        dl_col = pdf["dl_bytes"].values[order_runs]
        total = int(run_n.sum())
        gaps = varbyte_decode(b"".join(doc_col), total)
        tfs = varbyte_decode(b"".join(tf_col), total)
        dls = varbyte_decode(b"".join(dl_col), total)
        # absolute ids: one bucket-wide cumsum, re-based per run
        run_ends = np.cumsum(run_n)
        ids_all = np.cumsum(gaps, dtype=np.uint64)
        offs = np.zeros(len(run_n), dtype=np.uint64)
        offs[1:] = ids_all[run_ends[:-1] - 1]
        ids = ids_all - np.repeat(offs, run_n)
        # order postings by (tid, id); a local_id appears at most once
        # per (shard, tid) (tf is aggregated), so the order is unique
        tid_p = np.repeat(run_tid, run_n)
        order = np.lexsort((ids, tid_p))
        ids, tfs, dls, tid_p = ids[order], tfs[order], dls[order], tid_p[order]
        fidx_p = np.repeat(run_fidx, run_n)[order]
        adl = np.asarray(avgdl_by_fidx, dtype=np.float64)[fidx_p]
        tfs_f = tfs.astype(np.float64)
        denom = tfs_f + k1 * (1.0 - b + b * dls.astype(np.float64) / adl)
        tfnorm = tfs_f / denom
        # tid segments -> block tiling (blocks are contiguous in posting
        # order, so bstarts alone segments every per-block reduction)
        chg = np.flatnonzero(np.diff(tid_p)) + 1
        seg_starts = np.concatenate(([0], chg))
        seg_ends = np.concatenate((chg, [total]))
        seg_n = seg_ends - seg_starts
        nblocks = -(-seg_n // block_size)
        bseg = np.repeat(np.arange(len(seg_n)), nblocks)
        bidx = np.arange(len(bseg)) - np.repeat(
            np.cumsum(nblocks) - nblocks, nblocks
        )
        bstarts = seg_starts[bseg] + bidx * block_size
        bends = np.minimum(bstarts + block_size, seg_ends[bseg])
        gaps_b = ids.copy()
        gaps_b[1:] = ids[1:] - ids[:-1]
        gaps_b[bstarts] = ids[bstarts]
        doc_buf, doc_off = varbyte_encode_segmented(gaps_b, bstarts)
        tf_buf, tf_off = varbyte_encode_segmented(tfs, bstarts)
        doc_mv = memoryview(doc_buf.tobytes())
        tf_mv = memoryview(tf_buf.tobytes())
        nb = len(bstarts)
        return pd.DataFrame({
            "tid": tid_p[bstarts],
            "shard": np.full(nb, shard, dtype=np.int32),
            "block_idx": bidx.astype(np.int64),
            "first_local": ids[bstarts].astype(np.int64),
            "last_local": ids[bends - 1].astype(np.int64),
            "n": (bends - bstarts).astype(np.int64),
            "max_tfnorm": np.maximum.reduceat(tfnorm, bstarts),
            "doc_bytes": [
                bytes(doc_mv[doc_off[i]:doc_off[i + 1]]) for i in range(nb)
            ],
            "tf_bytes": [
                bytes(tf_mv[tf_off[i]:tf_off[i + 1]]) for i in range(nb)
            ],
        })

    return _merge_many


# ---------- build stages ----------

def assign_layout(u: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Assign (shard, local_id): shard = hash(id), local_id dense per shard
    ordered by id -- deterministic, so rebuilds and resumed builds
    produce identical layouts.

    Shuffle discipline: the wide corpus rows (content, chunk_content,
    embedding) cross exactly ONE exchange.  The explicit
    ``repartition(num_doc_shards, shard)`` here already satisfies both the
    window's required distribution (clustered by shard) and the final
    partitioned write's geometry, so Catalyst inserts no further exchange
    -- round 1 shipped the wide rows through two (window + pre-write
    repartition), which was the measured scaling bottleneck
    (BENCH_SCALING.md, 525 s at 3.84M pages / local[4])."""
    u = u.withColumn(
        "shard", F.pmod(F.xxhash64("id"), F.lit(cfg.num_doc_shards)).cast("int")
    )
    u = u.repartition(cfg.num_doc_shards, "shard")
    w = Window.partitionBy("shard").orderBy("id")
    return u.withColumn("local_id", (F.row_number().over(w) - 1).cast("long"))


def unified_corpus(docs: DataFrame, chunks: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Union full docs + chunks; assign (shard, local_id)."""
    d = docs.select(
        "id", "doc_type", F.lit(None).cast("string").alias("parent_id"),
        "url", "domain", "title", "content", "description",
        F.lit("").alias("chunk_content"),
        F.lit(None).cast("string").alias("parent_doc_type"),
        F.col("content_embedding").alias("embedding"),
    )
    c = chunks.select(
        "id", "doc_type", "parent_id", "url", "domain", "title",
        F.lit("").alias("content"), F.lit("").alias("description"),
        "chunk_content", "parent_doc_type",
        F.col("chunk_embedding").alias("embedding"),
    )
    return assign_layout(d.unionByName(c), cfg)


def tokenize_tf(unified: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(fidx, shard, local_id, dl, term, tf) -- all JVM-side.

    The field STRING never exists at token grain: stack emits the dense
    tinyint field index directly, so the exploded token rows, the tf
    hash-agg's keys and the sorted tf write all carry a 1-byte field id
    instead of a 5-13 byte string.  The stats stage is the build's bulk
    memory-streaming pass and the box's memory system is its scaling
    ceiling (BENCH_SCALING.md round 4), so every byte removed from the
    token/posting row is bandwidth returned to the bottleneck.  The
    string re-materializes only at vocab grain (term_dict via field_col)
    and inside the tid hash expression (field_col is a codegen
    element_at, not a stored column)."""
    n = len(cfg.fields)
    stack_expr = "stack({}, {}) as (fidx, text)".format(
        n, ", ".join(
            f"cast({i} as tinyint), {f}" for i, f in enumerate(cfg.fields)
        )
    )
    long_df = unified.select("shard", "local_id", F.expr(stack_expr))
    toks = long_df.select(
        "shard", "local_id", "fidx", tokens_col("text").alias("tokens")
    ).withColumn("dl", F.size("tokens")).filter(F.col("dl") > 0)
    exploded = toks.select(
        "fidx", "shard", "local_id", "dl", F.explode("tokens").alias("term")
    )
    return exploded.groupBy("fidx", "shard", "local_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def doclens(tf: DataFrame, cfg: IndexConfig) -> DataFrame:
    """One row per (shard, local_id) with per-field dl (null = field
    absent) -- the pivoted document-length table.

    Derived ONCE per build and materialized: both corpus_stats (avgdl /
    n_docs) and the attributes length join consume doc lengths, and at
    scale each previously re-scanned the full posting-grain tf table to
    re-derive them -- the round-3 protocol measured the stats stage as
    the worst 4N scaler (2.52x) largely from those two extra tf passes.
    tf is shard-colocated on disk, so the pivot's map-side partial agg
    collapses the per-term rows to one row per doc before the exchange
    (dl repeats on every (doc, field) row; F.first is exact).  The pivot
    keys on the int ``fidx``, so this posting-grain scan reads only int
    columns."""
    n = len(cfg.fields)
    piv = (
        tf.groupBy("shard", "local_id")
        .pivot("fidx", list(range(n)))
        .agg(F.first("dl"))
    )
    return piv.select(
        "shard", "local_id",
        *[F.col(str(i)).alias(f) for i, f in enumerate(cfg.fields)],
    )


def write_corpus_stats_local(lens_dir: str, out_dir: str,
                             cfg: IndexConfig, prefix: str = "") -> None:
    """Driver-side corpus_stats: per-field (n_docs, avgdl) over the docs
    whose length is > 0, computed with pyarrow from a per-doc lengths
    table and written as one parquet file in the Spark-compatible schema.
    The lengths of field ``f`` are column ``prefix + f``: the build reads
    the doclens table (null = field absent), ``compact_tiered`` the
    ``len_*`` columns of attributes (0 = field absent).

    Values are identical to a Spark count/avg over dl > 0: dl is
    integral and per-field totals sit far below 2^53, so the double sum
    is exact under any accumulation order, and float(sum)/count is the
    same IEEE division Spark's Average performs.  The read is one narrow
    columnar pass (int columns only); what this removes from the
    critical path is a whole Spark job + write for a 4-row table."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    ds = pads.dataset(lens_dir, format="parquet")
    # fold one record batch at a time: O(batch) driver memory
    count = dict.fromkeys(cfg.fields, 0)
    total = dict.fromkeys(cfg.fields, 0)
    for rb in ds.to_batches(columns=[prefix + f for f in cfg.fields]):
        for f in cfg.fields:
            col = rb.column(prefix + f)
            count[f] += pc.sum(pc.greater(col, 0)).as_py() or 0
            total[f] += pc.sum(col).as_py() or 0
    fields, n_docs, avgdl = [], [], []
    for f in cfg.fields:
        if count[f]:
            fields.append(f)
            n_docs.append(count[f])
            avgdl.append(float(total[f]) / count[f])
    out = pa.table(
        {"field": fields, "n_docs": n_docs, "avgdl": avgdl},
        schema=pa.schema([
            pa.field("field", pa.string()), pa.field("n_docs", pa.int64()),
            pa.field("avgdl", pa.float64()),
        ]),
    )
    import uuid as _uuid
    tmp = out_dir + f".__tmp_{_uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(out, os.path.join(tmp, "part-00000.parquet"))
    if os.path.exists(out_dir):
        import shutil as _shutil
        _shutil.rmtree(out_dir)
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    os.replace(tmp, out_dir)


def literal_lookup(mapping: dict, key, value_type: str):
    """``mapping[key]`` as a column over a literal map: null where the key
    is absent.  A driver-side dict of a few entries joins the plan as an
    expression, where a broadcast relation would run a job to ship it."""
    if not mapping:
        return F.lit(None).cast(value_type)
    m = F.create_map(*[
        c for k, v in mapping.items()
        for c in (F.lit(k), F.lit(v).cast(value_type))
    ])
    return m[key]


def term_dict(tf: DataFrame, stats: dict, cfg: IndexConfig) -> DataFrame:
    """(field, term, df, idf, tbucket, tid).  idf = ln(1 + (N-n+0.5)/(n+0.5)),
    N from ``stats`` ({field: (n_docs, avgdl)}, ``IndexStore.corpus_stats``).

    The df agg keys on the int ``fidx`` and the field string materializes
    AFTER the agg, at vocab grain -- the term strings themselves still
    stream through this one agg (the single posting-grain string decode
    left in the build)."""
    df_tbl = (
        tf.groupBy("fidx", "term").agg(F.count(F.lit(1)).alias("df"))
        .withColumn("field", field_col(cfg)).drop("fidx")
    )
    return term_dict_from_df(df_tbl, stats, cfg)


def term_dict_from_df(df_tbl: DataFrame, stats: dict,
                      cfg: IndexConfig) -> DataFrame:
    """Attach idf, tbucket and the term id ``tid = xxhash64(field, term)``
    (the postings' only key) to a vocab-grain (field, term, df) table --
    the shared tail of term_dict and of compact_tiered's merged df.
    ``stats`` is ``IndexStore.corpus_stats()``; its n_docs enter the plan
    as a literal map (no relation, so no job), and a field without stats
    has no term."""
    n_docs = literal_lookup(
        {f: n for f, (n, _a) in stats.items()}, F.col("field"), "bigint")
    j = df_tbl.withColumn("n_docs", n_docs).filter(F.col("n_docs").isNotNull())
    return j.select(
        "field", "term", "df",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        tbucket_col(F.col("term"), cfg.term_buckets).alias("tbucket"),
        F.xxhash64("field", "term").alias("tid"),
    )


def build_postings_for(
    tf: DataFrame, tdict: DataFrame, avgdl: dict, cfg: IndexConfig,
    scan_units: Optional[list] = None,
) -> DataFrame:
    """tf -> block rows (T5+T6+T7): map-side partial-run encode, then the
    tf-norm merge.  ``avgdl`` maps field -> avgdl (``IndexStore.
    corpus_stats``); a field without stats normalizes with 1.0.

    The encode is a NARROW map over the tf scan: each ~1.5M-row input
    chunk emits one compressed sorted run per (shard, tid) it contains,
    so the ONLY shuffle in the stage is the merge exchange moving
    delta+varbyte-compressed runs (a few bytes per posting: doc gap + tf
    + dl, no f64 score) instead of raw ~36-B posting rows.  Skew needs
    no salting: any one run is chunk-bounded, and the k-way merge
    accepts any number of runs per term.

    Two scans feed the encode, chosen by the input: ``scan_units``
    (file, row-group) pairs of a materialized tf table select the
    direct-pyarrow row-group scan; without them (streaming micro-batches,
    compaction deltas, a shard-group with no tf file) the DataFrame
    itself is scanned through the JVM.

    The merge keys on ``tid = xxhash64(field, term)``, and so do the
    written blocks: the dictionary join happens ONLY at block grain, on
    ``tid``, and attaches idf (max_score = idf * max_tfnorm) and the
    term's tbucket, so posting-grain rows never join anything and the
    on-disk postings carry no string.  ``verify_tid_unique`` (a task of
    every build's postings stage) guards the astronomically-unlikely
    64-bit collision, which would otherwise silently merge two terms'
    lists.  The stored max_score gets a 1e-12 relative bump: the serve
    kernel computes fl(fl(idf*tf)/denom) while this path stores fl(idf *
    fl(max tf/denom)), which can differ by ~2 ulp (~4e-16 relative)
    either way; the bump keeps the block bound a sound upper bound
    (pruning stays lossless -- a slightly larger bound can only skip
    fewer blocks) at a cost of ~1e-12 looser pruning.
    tests/test_codec.py::test_postings_paths_identical checks both scans
    against a pure-Python encode.
    """
    if scan_units:
        # direct-pyarrow encode scan: the driver enumerated (file,
        # row-group) units; each task reads its row groups columnar in
        # the python worker, pruned to the 6 fixed-width ENCODE_COLS.
        # The JVM->python Arrow boundary then carries only these path
        # rows in and compressed runs out -- O(runs), not O(postings).
        # boundary_probe.py: the per-row Arrow serialization it removes
        # cost ~1.8 us/row of JVM CPU and was the dominant NON-SCALING
        # term in the build (inflates ~3.2x from local[4] to local[16]).
        # the unit list enters Spark as an Arrow local relation (a
        # LocalTableScan): a list of tuples would plan as a Python RDD
        # scan and cost a Python stage before the encode starts
        paths = tf.sparkSession.createDataFrame(pa.table({
            "path": pa.array([p for p, _r in scan_units], pa.string()),
            "rg": pa.array([r for _p, r in scan_units], pa.int32()),
        })).repartition(len(scan_units))
        runs = paths.mapInPandas(
            _encode_partial_runs_files, schema=RUN_SCHEMA_DL
        )
    else:
        # the field string exists only inside the tid hash expression
        # (field_col is codegen element_at)
        src = tf.select(
            F.xxhash64(field_col(cfg), F.col("term")).alias("tid"),
            "shard", "fidx", "local_id", "tf", "dl",
        )
        runs = src.mapInPandas(_encode_partial_runs, schema=RUN_SCHEMA_DL)
    runs = runs.withColumn(
        "mkey", F.pmod(F.col("tid"), F.lit(cfg.encode_buckets)).cast("int")
    )
    avgdl_by_fidx = [avgdl.get(f, 1.0) for f in cfg.fields]
    blocks = runs.groupBy("shard", "mkey").applyInPandas(
        _make_merge_runs_tfnorm(cfg.block_size, cfg.k1, cfg.b, avgdl_by_fidx),
        schema=POSTINGS_SCHEMA_TFNORM,
    )
    # block-grain dictionary join attaches idf and tbucket;
    # max_score = idf * max_tfnorm (+1e-12 bump, see docstring)
    blocks = blocks.join(tdict.select("tid", "idf", "tbucket"), "tid")
    blocks = blocks.select(
        "tid", "shard", "block_idx", "first_local", "last_local", "n",
        (F.col("idf") * F.col("max_tfnorm") * F.lit(1.0 + 1e-12))
        .alias("max_score"),
        "doc_bytes", "tf_bytes", "tbucket",
    )
    # no exchange: each write task writes one file, sorted by tbucket so
    # its row-group statistics prune a query's ``tbucket IN (...)`` scan
    return blocks.sortWithinPartitions("tbucket")


def verify_tid_unique(tdict: DataFrame) -> None:
    """Raise if the stored ``tid = xxhash64(field, term)`` collides within
    the dictionary (the integer posting keys would silently merge two
    terms).  One hash-agg over the dictionary -- vocabulary-sized, not
    corpus-sized."""
    ncol = tdict.groupBy("tid").count().filter(F.col("count") > 1).count()
    if ncol:
        raise RuntimeError(
            f"{ncol} xxhash64(field, term) collisions in term_dict; "
            "change the term-id seed"
        )


def attributes(unified: DataFrame, cfg: IndexConfig, tf: DataFrame,
               lens: Optional[DataFrame] = None) -> DataFrame:
    """Per-doc serve-side attributes: lengths per field + embedding +
    precomputed semantic-LSH bucket.

    The Vespa-attribute analog (doc.sd `attribute` fields): everything the
    scorer needs at query time without touching the document store.
    ``sem_bucket`` (sign bits of the embedding against deterministic
    hyperplanes) is the HNSW-analog access path: semantic_mode="lsh"
    prunes candidates to the query's probed buckets.  Null embedding
    (with_embeddings=False builds, streamed deltas) -> null bucket, and
    compaction keeps them null, so semantic search never reaches such
    docs (their semantic arm scores 0.0; hybrid reaches them through
    BM25).

    len_* come from ``lens`` (the materialized pivoted doclens table, one
    row per doc) or, when it is absent, from ``tf`` (the tokenize_tf
    output, which already carries per-field dl), never from a second
    tokenization -- at 100 TB tokenization is a full-corpus pass worth
    doing exactly once.  With ``lens`` this stage touches no posting-grain
    data at all; with only ``tf`` it must first collapse the full
    posting-grain table.  Fields a doc lacks get len 0 (the scorer only
    dereferences lengths for docs a posting reaches, i.e. dl > 0 fields).
    """
    from ..oracle.embedder import _hyperplanes

    if lens is None:
        lens = doclens(tf, cfg)
    lens = lens.select(
        "shard", "local_id",
        *[F.coalesce(F.col(f), F.lit(0)).alias(f"len_{f}") for f in cfg.fields],
    )
    # shuffle-hash, not sort-merge: the hash table is built from the
    # NARROW lens side, so the wide unified rows (text + embedding)
    # stream through without being sorted (an SMJ here re-sorts the
    # whole corpus and spills at high task concurrency)
    u = unified.join(lens.hint("shuffle_hash"), ["shard", "local_id"], "left")
    for f in cfg.fields:
        u = u.withColumn(f"len_{f}", F.coalesce(F.col(f"len_{f}"), F.lit(0)))
    # Arrow-batched numpy matmul, NOT the catalyst aggregate/zip_with fold:
    # higher-order-function lambdas are interpreted per element (no
    # whole-stage codegen), which made this stage the build bottleneck;
    # one (batch x dim) @ (dim x planes) product per Arrow batch is ~100x
    # cheaper.  Query-side probes (search.SearchEngine._semantic_probes)
    # use the same numpy float64 dot, so build and query buckets agree.
    planes = _hyperplanes(cfg.embedding_dim, cfg.sem_lsh_planes, cfg.sem_lsh_seed)
    dim = cfg.embedding_dim
    weights = np.uint64(1) << np.arange(planes.shape[0], dtype=np.uint64)

    @F.pandas_udf("int")
    def _bucket(embs: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(embs), dtype="Int32")
        ok = [
            i for i, v in enumerate(embs)
            if v is not None and len(v) == dim
        ]
        # slice the matmul at a fixed row grain so peak kernel memory is
        # independent of the session Arrow batch size (the postings stage
        # raises maxRecordsPerBatch session-wide, and this stage now runs
        # concurrently with it -- guide §2.6)
        for s in range(0, len(ok), 4096):
            sl = ok[s:s + 4096]
            x = np.stack([embs.iloc[i] for i in sl]).astype(np.float64)
            bits = (x @ planes.T) > 0
            out.iloc[sl] = (bits * weights).sum(axis=1).astype(np.int32)
        return out

    u = u.withColumn("sem_bucket", _bucket(F.col("embedding")))
    # cfg-derived projection: a custom-field index carries exactly its
    # own len_* columns
    cols = [
        "shard", "local_id", "id", "doc_type", "parent_id",
        "parent_doc_type",
    ] + [f"len_{f}" for f in cfg.fields] + ["embedding", "sem_bucket"]
    return u.select(*cols)


# ---------- orchestrator ----------

def _tag_jobs(spark: SparkSession, stage: str) -> None:
    """Label subsequent Spark jobs with the build stage.  Shows up in the
    UI/event logs, so shuffle bytes attribute to build stages
    deterministically (wall-clock attribution on a noisy multi-tenant host
    is unreliable)."""
    spark.sparkContext.setJobGroup(f"build:{stage}", f"index build stage {stage}")


# the thread-local properties ``setJobGroup`` sets
_JOB_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
                   "spark.job.interruptOnCancel")


def _keeps_job_group(build):
    """A build entry that hands the caller's thread back with the job group
    it came with: the stage labels (``_tag_jobs``) must not tag the
    caller's later jobs as the build's last stage."""

    @functools.wraps(build)
    def wrapped(spark: SparkSession, *args, **kwargs):
        sc = spark.sparkContext
        saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS]
        try:
            return build(spark, *args, **kwargs)
        finally:
            for k, v in zip(_JOB_GROUP_KEYS, saved):
                sc.setLocalProperty(k, v)

    return wrapped


@_keeps_job_group
def build_index(
    spark: SparkSession,
    pages: DataFrame,
    store: IndexStore,
    cfg: Optional[IndexConfig] = None,
    with_embeddings: bool = True,
    verify_text_invariant: bool = True,
) -> IndexStore:
    """Full checkpoint-resumable build from crawled pages.  Re-running after
    an interruption skips stages (and postings shard-groups) marked done in
    the manifest.

    This entry owns only the docs stage: extract (and embed) the pages,
    store them, and check the byte-identical extraction invariant
    (``verify_text_invariant``).  Every later stage is
    :func:`build_index_from_docs` over the stored docs table, whose own
    docs stage is then already done.
    """
    if not store.stage_done("docs"):
        store.begin_stage("docs")
        _tag_jobs(spark, "docs")
        t = time.time()
        # the Arrow extraction kernel parallelizes per input partition; a
        # source with few files (common for small synthetic inputs) would
        # idle most cores.  Real CC dumps have thousands of files, so this
        # repartition is a no-op at scale.
        target_par = spark.sparkContext.defaultParallelism * 2
        if pages.rdd.getNumPartitions() < target_par:
            pages = pages.repartition(target_par)
        docs = extract_docs(pages)
        if with_embeddings:
            docs = embed_docs(docs)
        else:
            docs = docs.withColumn(
                "content_embedding", F.lit(None).cast("array<float>")
            )
        store.write(docs, "docs")
        if verify_text_invariant:
            from .extract import verify_extraction_parity
            bad = verify_extraction_parity(pages, store.read(spark, "docs"))
            assert bad == 0, f"{bad} rows violate byte-identical extraction"
        _finish_docs_stage(store, t)

    return build_index_from_docs(
        spark, store.read(spark, "docs"), store, cfg,
        with_embeddings=with_embeddings,
    )


def _finish_docs_stage(store: IndexStore, t: float) -> None:
    wall = time.time() - t
    n = parquet_num_rows(store.path("docs"))
    store.finish_stage("docs", {
        "wall_sec": wall, "rows": n, "docs_per_sec": n / max(wall, 1e-9),
    })


@_keeps_job_group
def build_index_from_docs(
    spark: SparkSession,
    docs: DataFrame,
    store: IndexStore,
    cfg: Optional[IndexConfig] = None,
    *,
    with_embeddings: bool = False,
) -> IndexStore:
    """Index an ALREADY-EXTRACTED docs table: docs -> chunks -> unified ->
    stats -> postings -> attributes (-> graph), checkpointed per stage.
    :func:`build_index` runs its extraction stage and then this, so the
    resulting store serves through SearchEngine/ResidentSearcher the same
    way whichever entry built it.

    ``docs`` needs ``id`` (string, unique) and ``content``; the remaining
    projection columns (url/domain/title/description/keywords/
    code_snippets/crawled_at/doc_type) are filled with deterministic
    defaults when absent.  This is the entry point for corpora that are
    born as text rather than HTML (the reference only ever ingests crawl
    JSON, indexer/indexer.py:404-430; text-born tables are the common case
    for a training-data pipeline, and the driver's bm25_topk_indexed gate
    builds through here to check the postings/WAND engine against the
    DuckDB oracle on the plain-text documents table).

    ``cfg`` is recorded in the manifest (``IndexStore.save_config``) for
    every later reader.  Every build records its lineage: docs/chunks row
    counts and per-shard-group postings metrics in the manifest, and
    per-shard ``build_metrics`` rows.  All of them are parquet footer
    reads and pyarrow writes; none starts a Spark job.
    """
    cfg = cfg or IndexConfig()
    store.save_config(cfg)
    t_all = time.time()

    defaults = {
        "url": F.lit(""),
        "domain": F.lit(""),
        "title": F.lit(""),
        "description": F.lit(""),
        "keywords": F.lit(""),
        "code_snippets": F.lit(None).cast("array<string>"),
        "crawled_at": F.lit("2026-01-01 00:00:00").cast("timestamp"),
        "doc_type": F.lit("full_doc"),
    }
    for c, e in defaults.items():
        if c not in docs.columns:
            docs = docs.withColumn(c, e)

    if not store.stage_done("docs"):
        store.begin_stage("docs")
        _tag_jobs(spark, "docs")
        t = time.time()
        if with_embeddings:
            docs = embed_docs(docs)
        elif "content_embedding" not in docs.columns:
            docs = docs.withColumn(
                "content_embedding", F.lit(None).cast("array<float>")
            )
        store.write(docs, "docs")
        _finish_docs_stage(store, t)

    docs = store.read(spark, "docs")

    if not store.stage_done("chunks"):
        store.begin_stage("chunks")
        _tag_jobs(spark, "chunks")
        t = time.time()
        ch = chunk_docs(docs)
        if with_embeddings:
            ch = embed_chunks(ch)
        else:
            ch = ch.withColumn("chunk_embedding", F.lit(None).cast("array<float>"))
        store.write(ch, "chunks")
        store.finish_stage("chunks", {
            "wall_sec": time.time() - t,
            "rows": parquet_num_rows(store.path("chunks")),
        })

    chunks = store.read(spark, "chunks")

    # stage: unified corpus with (shard, local_id)
    if not store.stage_done("unified"):
        store.begin_stage("unified")
        _tag_jobs(spark, "unified")
        t = time.time()
        u = unified_corpus(docs, chunks, cfg)
        # assign_layout already hash-partitioned by shard at write geometry
        # (1 task -> 1 partition dir: small-file + fork control); a second
        # repartition here would shuffle the wide rows again
        # doc-store layout (1 MB row groups + dictionary off): the serve
        # path point-fetches <=k docs by id from this table, and the
        # write-side cost of small groups is dictionary churn, not the
        # groups themselves -- rationale + A/B in tables.DOC_STORE_WRITE_OPTS
        store.write(u, "unified", partition_by=["shard"],
                    options=DOC_STORE_WRITE_OPTS)
        store.finish_stage("unified", {"wall_sec": time.time() - t})

    unified = store.read(spark, "unified")

    # stage: tf + stats + dictionary
    if not store.stage_done("stats"):
        store.begin_stage("stats")
        _tag_jobs(spark, "stats")
        t = time.time()
        # ONE doc-grain exchange replaces TWO posting-grain ones: hash-
        # partitioning unified by shard BEFORE tokenize lets Catalyst
        # elide both the tokenize groupBy's exchange (HashPartitioning
        # on `shard` satisfies ClusteredDistribution over the agg keys,
        # which include shard) and the pre-write layout repartition
        # (grp = pmod(shard) is a function of shard, so shard-hashed
        # partitions are already (grp, shard)-colocated).  The bytes
        # moved drop from ~2x posting-grain rows (tf agg exchange +
        # layout repartition; 1376.8 MB @480k pages, BENCH_SCALING.md
        # round 4, "one doc-grain exchange") to one pass over the doc-grain text
        # (~300 MB @480k) -- and on the one-box protocol, shuffle bytes
        # through a shared memory system are exactly the non-scaling
        # resource (BENCH_SCALING.md round 4).  Plan shape (1 exchange
        # vs 2) is asserted in tests/test_plans.py.
        tf = tokenize_tf(
            unified.repartition(
                spark.sparkContext.defaultParallelism * 2, "shard"
            ),
            cfg,
        )
        tf = tf.withColumn(
            "grp", F.pmod(F.col("shard"), F.lit(cfg.shard_groups)).cast("int")
        )
        # precompute the int term id in the SAME codegen pass as the tf
        # write: every posting-grain consumer downstream (doclens pivot,
        # mapside postings encode) then scans fixed-width int columns
        # only and parquet prunes the string pages -- the term string is
        # decoded at posting grain exactly once more (term_dict's df
        # agg), everywhere else at block/term grain.  tokenize_tf emits
        # fidx natively (no field string at token grain); tid must hash
        # the STRING field name to stay identical to term_dict's
        # xxhash64(field, term), so field_col re-derives it inside the
        # hash expression only.
        tf = tf.withColumn(
            "tid", F.xxhash64(field_col(cfg), F.col("term"))
        )
        # tf stays co-located by shard on disk -- this is a LAYOUT
        # INVESTMENT, not just small-file control: every downstream
        # consumer aggregates on (shard, local_id)-prefixed keys
        # (the doclens pivot), and shard-
        # colocated input lets their map-side partial aggs collapse rows
        # before shuffling.  A/B at 3.84M pages (BENCH_SCALING.md round 3):
        # dropping shard colocation saved ~117 s in `stats` at local[4]
        # but doubled the attributes stage at BOTH parallelism levels
        # (hash-scattered (shard, local_id) rows defeat partial
        # aggregation), a net loss at the 4N level.  The colocation now
        # comes from the doc-grain pre-tokenize repartition above, which
        # the agg preserves, instead of a second posting-grain exchange.
        # sortWithinPartitions(shard, tid, local_id): the posting-grain
        # sort happens ONCE here, in Tungsten's spill-aware radix sort,
        # instead of per-chunk in the python encode kernel.  The encode's
        # np.lexsort was the build's least scalable kernel on shared
        # memory systems: its random gather over the chunk working set
        # saturates memory-level parallelism, measured OUTSIDE Spark at
        # 3.1x per-row inflation from 4 -> 16 concurrent processes on
        # identical input (mp.Pool mimic, BENCH_SCALING.md round 4) --
        # a sorted tf scan turns the kernel into a sequential pass.  The
        # (shard, local_id) clustering also feeds the doclens/stats
        # partial aggs the layout comment above describes.
        sub = {}
        store.write(
            # grp leads the sort so the dynamic-partition writer's
            # required ordering (partition cols first) is satisfied by
            # prefix -- otherwise FileFormatWriter inserts its own
            # non-stable sort by grp and destroys the inner order
            tf.sortWithinPartitions("grp", "shard", "tid", "local_id"),
            "tf", partition_by=["grp"],
        )
        sub["tf_write_sec"] = round(time.time() - t, 1)
        tf = store.read(spark, "tf")
        # one doc-grain pass over tf feeds BOTH corpus_stats and the
        # attributes length join (previously each re-scanned full tf)
        t2 = time.time()
        store.write(doclens(tf, cfg), "doclens")
        sub["doclens_sec"] = round(time.time() - t2, 1)
        t2 = time.time()
        # driver-side pyarrow aggregation over the just-written doclens
        # table: same values as the Spark agg (see write_corpus_stats_
        # local), no Spark job for a 4-row output
        write_corpus_stats_local(
            store.path("doclens"), store.path("corpus_stats"), cfg
        )
        sub["corpus_stats_sec"] = round(time.time() - t2, 1)
        t2 = time.time()
        td = term_dict(tf, store.corpus_stats(), cfg)
        store.write(td.sortWithinPartitions("tbucket"), "term_dict")
        sub["term_dict_sec"] = round(time.time() - t2, 1)
        # tid-collision verification moved off the serial critical path:
        # it runs as a concurrent task of the postings pool below (always,
        # not only on a fresh stats stage -- strictly more checking)
        store.finish_stage("stats", {"wall_sec": time.time() - t, **sub})

    tf = store.read(spark, "tf")
    avgdl = {f: a for f, (_n, a) in store.corpus_stats().items()}
    td = store.read(spark, "term_dict")

    # stage: postings, checkpointed per shard-group
    store.begin_stage("postings")
    _tag_jobs(spark, "postings")

    def _one_group(g: int) -> None:
        part = f"grp={g}"
        # job group/description are thread-local: label inside the worker
        _tag_jobs(spark, "postings")
        spark.sparkContext.setJobDescription(f"postings {part}")
        t = time.time()
        tf_g = tf.filter(F.col("grp") == g)
        # (file, row-group) units of this group's tf partition dir, for
        # the direct-pyarrow encode scan (build_postings_for falls back
        # to the DataFrame scan when the list is empty or disabled)
        units = tf_scan_units(store.path("tf", part))
        blocks = build_postings_for(tf_g, td, avgdl, cfg, scan_units=units)
        store.write(blocks, "postings", part=part)
        _commit_postings_part(store, part, time.time() - t)

    def _attributes_task() -> None:
        # stage: attributes (consumes the materialized doclens table -- no
        # second tokenization, no posting-grain re-scan).  Depends only on
        # stats-stage outputs, so it runs CONCURRENTLY with the postings
        # groups (guide §2.6) and back-fills their serial tails.
        store.begin_stage("attributes")
        _tag_jobs(spark, "attributes")
        spark.sparkContext.setJobDescription("attributes")
        t = time.time()
        store.write(
            attributes(unified, cfg, tf=tf,
                       lens=store.read(spark, "doclens"))
            .repartition(cfg.num_doc_shards, "shard"),
            "attributes", partition_by=["shard"],
        )
        store.finish_stage("attributes", {"wall_sec": time.time() - t})

    pending = [
        g for g in range(cfg.shard_groups)
        if not store.stage_done("postings", f"grp={g}")
    ]
    # Overlap the independent jobs (guide §2.6): each postings group's
    # stages have serial tails (global merge exchange, 1-task dirs of the
    # dynamic-partition write) that leave most cores idle; concurrent
    # submission back-fills them with the next group's (and the attributes
    # stage's) tasks.  Memory per TASK is unchanged (the scheduler still
    # caps concurrent tasks at the core count), so the overlap is safe at
    # any scale.
    n_jobs = min(len(pending), 4)
    tasks = [(lambda g=g: _one_group(g)) for g in pending]
    if not store.stage_done("attributes"):
        tasks.append(_attributes_task)
    # 64-bit tid collision guard (verify_tid_unique docstring): a
    # vocab-sized job that used to sit serially at the end of the stats
    # stage; as a pool task it hides under the postings groups.
    # Unconditional (even on a no-op resume) so that "this invocation
    # returned" always implies "the served dictionary was verified" -- a
    # raise here propagates before finish_stage("postings").
    def _verify_task():
        _tag_jobs(spark, "postings")
        spark.sparkContext.setJobDescription("verify tid uniqueness")
        verify_tid_unique(td)

    tasks.append(_verify_task)
    # Arrow batch size, scoped to this stage: the session default (4096)
    # bounds per-batch memory for WIDE rows (html pages, embeddings), but
    # the postings stage ships narrow rows (6 int columns into the encode
    # kernel, ~150-B compressed runs into the merge), where 4096-row
    # batches make JVM-side per-batch overhead the dominant scan cost
    # (1.6-7 us/row of executor CPU on a 6-int scan, measured by the
    # per-Spark-stage event-log probe of BENCH_SCALING.md),
    # restored also when a task raises
    prev_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
    try:
        if len(tasks) > 1 and n_jobs > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                    max_workers=min(n_jobs + 1, len(tasks))) as pool:
                futures = [pool.submit(t) for t in tasks]
                for f in futures:
                    f.result()
        else:
            for t_ in tasks:
                t_()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       prev_batch)
    store.finish_stage("postings")

    # stage: graph (optional) -- per-shard HNSW over stored embeddings,
    # the Vespa hnsw-attribute analog (doc.sd:55-60); serve's
    # semantic_mode="graph" loads it (operators/graph_ann.py docstring)
    if cfg.graph_ann and not store.stage_done("graph"):
        store.begin_stage("graph")
        _tag_jobs(spark, "graph")
        t = time.time()
        from .graph_ann import build_graph_table
        store.write(
            build_graph_table(store.read(spark, "attributes"), cfg),
            "graph", partition_by=["shard"],
        )
        store.finish_stage("graph", {"wall_sec": time.time() - t})

    store.manifest["total_wall_sec"] = time.time() - t_all
    store._write_manifest()
    return store


def compact_tiered(
    spark: SparkSession,
    base: IndexStore,
    out: IndexStore,
    cfg: Optional[IndexConfig] = None,
) -> IndexStore:
    """Tiered delta compaction: merge base + streamed delta segments into a
    consolidated index re-tokenizing ONLY the delta documents (a full
    re-pipeline from text would, at 100 TB with continuous ingest, be a
    full rebuild per compaction; here the base tier's text is never
    touched).  It keeps every (shard, local_id), so it is the one merge
    whose ids stay valid for segments a live stream commits.

    Everything base-sized re-derives from already-materialized artifacts:

    - corpus stats (n_docs/avgdl per field) from the union of attribute
      length columns -- exact: the same integral dl values a full rebuild
      would aggregate, so avgdl is bit-identical;
    - the dictionary df from base term_dict df + a re-tokenize of the
      delta docs only (the stored delta segments inner-joined the BASE
      dictionary at stream time, so brand-new terms were dropped there by
      design and must enter here); idf re-derives from the updated
      (df, n_docs) with the same expression;
    - base posting blocks pass through payload-unchanged with only their
      block-grain max_score rebounded under the new stats (sound
      inflation, see the postings stage comment); fresh delta postings
      encode from the delta re-tokenize.  No posting-grain byte of the
      base tier is decoded or moved beyond the block-table rewrite;
    - attributes / unified by segment concatenation (delta local_ids were
      offset past every earlier segment at stream time, so the per-shard
      id space is already dense and disjoint).

    The result scores EXACTLY like a full rebuild over the same corpus
    (same raw tf, dl, df, n_docs, avgdl, and the same fl op order in the
    kernels); only the internal (shard, local_id) layout differs (a full
    rebuild re-interleaves ids).  Rank/score parity with a from-scratch
    ``build_index`` over the same pages is asserted in
    tests/test_streaming.py.  Document-store tables (docs/chunks) stay in
    ``base``.  ``cfg`` defaults to the base's saved config.
    """
    cfg = cfg or base.saved_config()
    out.manifest["compacted_from"] = base.build_id
    out.manifest["compaction"] = "tiered"
    out.save_config(cfg)
    t_all = time.time()

    # unified: segment concat, ids kept (dense + disjoint by construction)
    if not out.stage_done("unified"):
        out.begin_stage("unified")
        t = time.time()
        u = base.read_parts(spark, "unified")
        out.write(u.repartition(cfg.num_doc_shards, "shard"), "unified",
                  partition_by=["shard"], options=DOC_STORE_WRITE_OPTS)
        out.finish_stage("unified", {"wall_sec": time.time() - t})

    # attributes: segment concat
    if not out.stage_done("attributes"):
        out.begin_stage("attributes")
        t = time.time()
        a = base.read_parts(spark, "attributes")
        out.write(a.repartition(cfg.num_doc_shards, "shard"), "attributes",
                  partition_by=["shard"])
        out.finish_stage("attributes", {"wall_sec": time.time() - t})

    # delta docs RE-TOKENIZE (they are the small tier), once for both the
    # merged df and their fresh postings; the stored delta segments cannot
    # source the dictionary because their postings inner-joined the BASE
    # dictionary at stream time -- brand-new terms were dropped there by
    # design and enter the index here (streaming/incremental.py docstring)
    delta_tf = None
    if base.has_parts("unified_delta") and not (
            out.stage_done("stats") and out.stage_done("postings")):
        delta_tf = tokenize_tf(
            base.read_parts(spark, "unified_delta"), cfg).persist()
    try:
        # stats + dictionary: vocab/doc-grain only, no corpus pass
        if not out.stage_done("stats"):
            out.begin_stage("stats")
            t = time.time()
            write_corpus_stats_local(out.path("attributes"),
                                     out.path("corpus_stats"), cfg,
                                     prefix="len_")
            base_df = base.read(spark, "term_dict").select(
                "field", "term", "df")
            if delta_tf is not None:
                delta_df = (
                    delta_tf.groupBy("fidx", "term")
                    .agg(F.count(F.lit(1)).alias("df_delta"))
                    .select(field_col(cfg).alias("field"), "term", "df_delta")
                )
                new_df = (
                    base_df.join(delta_df, ["field", "term"], "full")
                    .select(
                        "field", "term",
                        (F.coalesce(F.col("df"), F.lit(0))
                         + F.coalesce(F.col("df_delta"), F.lit(0)))
                        .alias("df"),
                    )
                )
            else:
                new_df = base_df
            td = term_dict_from_df(new_df, out.corpus_stats(), cfg)
            out.write(td.sortWithinPartitions("tbucket"), "term_dict")
            out.finish_stage("stats", {"wall_sec": time.time() - t})

        td = out.read(spark, "term_dict")

        # postings: base blocks pass through PAYLOAD-UNCHANGED; only the
        # block-grain max_score rebounds under the new stats.  stored bound =
        # idf_old * max_tfnorm (+eps); tfnorm is monotone-increasing in avgdl
        # (a larger avgdl shrinks every denominator), so
        # max_tfnorm_new <= max_tfnorm_old * max(1, avgdl_new/avgdl_old):
        # for avgdl_new >= old, tf + C*r >= r*(tf + C) for r =
        # old/new <= 1 gives tfnorm_new <= tfnorm_old/r; for avgdl_new < old
        # the old bound is already an upper bound.  new max_score =
        # old/idf_old * idf_new * inflation * (1+1e-12) (the extra eps covers
        # the division's rounding).  Pruning stays lossless -- serve recomputes
        # exact scores from the raw (tf, dl) either way -- bounds merely get
        # (1 + avgdl-drift) looser per tiered compaction; a from-scratch
        # ``build_index`` over the pages re-tightens them.  Zero
        # posting-grain work for the base tier: at 120k pages a
        # decode-and-retile kernel cost 2.2x the from-scratch mapside encode
        # (BENCH_SCALING.md round 5), i.e. physical re-blocking pays MORE
        # than it saves; segment-consolidation semantics (Lucene tiered
        # merge policy) are the scalable shape.
        if not out.stage_done("postings"):
            out.begin_stage("postings")
            t = time.time()
            old_avg = {f: a for f, (_n, a) in base.corpus_stats().items()}
            new_avg = {f: a for f, (_n, a) in out.corpus_stats().items()}
            inflate = F.coalesce(
                *[
                    F.when(
                        F.col("field") == f,
                        F.lit(max(1.0, new_avg.get(f, 1.0)
                                  / old_avg.get(f, 1.0))),
                    )
                    for f in cfg.fields
                ],
                F.lit(1.0),
            )
            post = base.read_dirs(spark, "postings", [
                base.path("postings", p)
                for p in base.committed_parts("postings")
                if not p.startswith("delta=")
            ])
            old_idf = base.read(spark, "term_dict").select(
                "tid", F.col("idf").alias("idf_old")
            )
            reb = (
                post.join(old_idf, "tid")
                .join(td.select("tid", "field", "idf"), "tid")
                .withColumn(
                    "max_score",
                    F.col("max_score") / F.col("idf_old") * F.col("idf")
                    * inflate * F.lit(1.0 + 1e-12),
                )
                .drop("idf_old", "field", "idf")
            )
            out.write(reb.sortWithinPartitions("tbucket"),
                      "postings", part="grp=0")
            _commit_postings_part(out, "grp=0", time.time() - t)
            # delta postings REGENERATE from the delta re-tokenize (the stored
            # delta parts dropped base-dictionary-unknown terms at stream time
            # and carry stale-stats bounds): superseded, not merged
            if delta_tf is not None:
                t2 = time.time()
                fresh = build_postings_for(delta_tf, td, new_avg, cfg)
                out.write(fresh, "postings", part="grp=1")
                _commit_postings_part(out, "grp=1", time.time() - t2)
            out.finish_stage("postings", {"wall_sec": time.time() - t})
    finally:
        if delta_tf is not None:
            delta_tf.unpersist()

    # graph (optional): per-shard HNSW over the merged attributes
    if cfg.graph_ann and not out.stage_done("graph"):
        out.begin_stage("graph")
        t = time.time()
        from .graph_ann import build_graph_table
        out.write(build_graph_table(out.read(spark, "attributes"), cfg),
                  "graph", partition_by=["shard"])
        out.finish_stage("graph", {"wall_sec": time.time() - t})

    out.manifest["total_wall_sec"] = time.time() - t_all
    out._write_manifest()
    return out
