"""Index storage + checkpoint manifest.

The design target is an Iceberg catalog (north_rule): every stage is one
atomic Iceberg commit and the checkpoint manifest row is written in the
same transaction.  This sandbox has no Iceberg runtime jars, so the store
falls back to parquet directories with rename-based atomic commits and a
JSON manifest -- the *resume semantics* (stage- and shard-group-level
skip of completed work, per-partition lineage + metrics) are identical and
tested (tests/test_resume.py).  On a real cluster, set ``iceberg_table``
naming and the writes below become ``df.writeTo(...)`` -- the call sites
are isolated here on purpose.

Layout under ``root``:
  manifest.json                 -- build_id, format, per-stage status + metrics
  docs/ chunks/ unified/        -- document tables (unified partitioned by shard)
  tf/grp=K/                     -- per-(doc, field, term) tf + dl, per shard-group
  term_dict/ corpus_stats/      -- broadcastable stats
  doclens/                      -- per-(shard, local_id) field lengths
  postings/grp=K/               -- posting lists, committed per shard-group
  postings/delta=E_B/           -- a streamed segment's posting lists
  attributes/                   -- per-(shard, local_id) norms + embeddings
  unified_delta/delta=E_B/      -- a streamed segment's documents
  attributes_delta/delta=E_B/   -- a streamed segment's attributes
  graph/                        -- per-shard HNSW rows (graph_ann builds)
  build_metrics/                -- per-stage, per-partition lineage rows

The manifest's ``format`` is the writing code's ``STORE_FORMAT``.
``IndexStore(root)`` raises on a store of another format (or of none);
``IndexStore(root, build_id=...)``, as every build entry opens a store,
starts such a dir fresh instead of resuming it.

A streamed segment's three ``delta=`` parts commit together as one
``stream_deltas`` manifest part, which records the segment's per-shard
max ``local_id``.  ``segment_offsets`` reads the next segment's id
offsets from those records and the ``unified`` footers.

``segment_dirs`` composes a served table: ``unified`` and ``attributes``
are the base dir plus the committed parts of their ``_delta`` tier,
``postings`` is its committed ``grp=``/``delta=`` parts.  ``read_parts``
(Spark) and every pyarrow reader of the serve path read exactly those
dirs, so no reader outside this module names a ``_delta`` table.

The serve process reads with ``read_columns``: each file of a dataset dir
through ``pq.ParquetFile``, its Arrow buffers turned into numpy arrays
(``arrow_to_numpy``) with no Spark and no pandas in the process.

Spark reads take the footer schema: ``read``/``read_parts`` pass Spark the
schema that Spark's writer recorded in each dir's first parquet footer
(``_SPARK_SCHEMA_KEY``, the key Spark's own inference reads back), so a
read plans with no schema-inference job; hive partition columns are still
discovered from the paths.  A table written by pyarrow (``corpus_stats``,
``build_metrics``) has no such key and is read as Spark infers it.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import asdict
from typing import TYPE_CHECKING, Dict, Iterator, List, Optional, Tuple

import numpy as np

from ..config import IndexConfig

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType


# Writer options for the doc-store tables (unified / unified_delta), the
# only tables the serve path point-fetches by id:
# - 1 MB row groups: the footer-cached fetcher (_DocFetcher) decodes only
#   row groups whose id min/max match; with the 128 MB default one group
#   spans a whole shard and every <=k-row fetch decompresses the full
#   content column (measured 9.2 ms vs 29-36 ms p50 per 10-doc fetch at
#   1 MB vs 4-16 MB groups, 15k-doc shard).
# - dictionary encoding OFF: the wide columns (content, url, title, id)
#   are unique strings, so the writer builds and abandons a dictionary
#   per column chunk -- 30x more chunks at 1 MB groups.  Measured on a
#   4 GB 256-partition write: 1 MB+dict anti-scales (11.4/6.5 s at
#   local[4]/local[16] vs 6.5/2.1 for 128 MB) while 1 MB+nodict restores
#   default-block walls AND scaling (6.4/2.3 s); on-disk size is
#   byte-identical (snappy catches the low-cardinality columns' repeats
#   at page grain).  This is what made the unified stage the build's
#   worst scaler in the round-4 official pair (BENCH_SCALING.md).
DOC_STORE_WRITE_OPTS = {
    "parquet.block.size": str(1 << 20),
    "parquet.enable.dictionary": "false",
}


# The store format this code writes and reads; bump it when a table's
# layout changes.  2: postings keyed by the int64 ``tid`` (before: none).
STORE_FORMAT = 2


# The footer key under which Spark's parquet writer records the written
# rows' Spark schema; Spark's own schema inference reads this key back.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_files(path: str) -> Iterator[Tuple[str, Dict[str, str]]]:
    """(file, hive keys) of every data file under ``path`` in sorted walk
    order, skipping the ``_``/``.`` entries Spark's file listing skips.
    The keys are the ``k=v`` dirs between ``path`` and the file (a
    ``shard=3`` dir gives ``{"shard": "3"}``)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        keys = dict(
            d.split("=", 1) for d in os.path.relpath(root, path).split(os.sep)
            if "=" in d
        )
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f), keys


def _first_parquet(path: str) -> Optional[str]:
    """The first data file under ``path`` (``parquet_files`` order); None
    if there is none."""
    return next((f for f, _keys in parquet_files(path)), None)


def _footer_schema(path: str) -> Optional[StructType]:
    """The Spark schema a Spark writer recorded in ``path``'s footer, or
    None for a file written by another writer (pyarrow)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(raw)) if raw else None


def _read_dir(spark: SparkSession, path: str,
              first: Optional[str]) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job when
    ``first`` (the dir's first file) carries a Spark footer schema.  Hive
    partition columns are still discovered from the paths.  Without that
    schema (no file, a pyarrow-written table) the read infers, as Spark
    does by default."""
    schema = _footer_schema(first) if first else None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path)


# ---------- driver-side columnar reads: Arrow buffers -> numpy ----------

# the fixed-width Arrow types Spark writes (by ``str(type)``), read as
# numpy views of their data buffer
_FIXED = {
    "int8": np.int8, "int16": np.int16, "int32": np.int32,
    "int64": np.int64, "float": np.float32, "double": np.float64,
}


def _objects(vals) -> np.ndarray:
    """A 1-d object array holding ``vals`` as they are (equal-length
    sequences stay elements, bytes keep trailing NULs)."""
    return np.fromiter(vals, dtype=object, count=len(vals))


def _array_to_numpy(a: "pa.Array") -> np.ndarray:
    n, off, name = len(a), a.offset, str(a.type)
    if not n:
        return np.empty(0, dtype=_FIXED.get(name, object))
    bufs = a.buffers()
    valid = None
    if a.null_count:
        valid = np.unpackbits(np.frombuffer(bufs[0], np.uint8),
                              bitorder="little")[off:off + n].astype(bool)
    dt = _FIXED.get(name)
    if dt is not None:
        out = np.frombuffer(bufs[1], dt, count=off + n)[off:]
        if valid is not None:
            out = out.astype(np.float64)
            out[~valid] = np.nan
        return out
    if name not in ("string", "binary") and not name.startswith("list<"):
        return _objects(a.to_pylist())
    o = np.frombuffer(bufs[1], np.int32, count=off + n + 1)[off:].tolist()
    spans = zip(o[:-1], o[1:])
    if name.startswith("list<"):
        child = _array_to_numpy(a.values)
        out = _objects([child[i:j] for i, j in spans])
    else:
        raw = bufs[2].to_pybytes() if bufs[2] is not None else b""
        if name == "binary":
            out = _objects([raw[i:j] for i, j in spans])
        elif raw.isascii():  # byte offsets are char offsets: decode once
            text = raw.decode("ascii")
            out = _objects([text[i:j] for i, j in spans])
        else:
            out = _objects([raw[i:j].decode() for i, j in spans])
    if valid is not None:
        out[~valid] = None
    return out


def arrow_to_numpy(col) -> np.ndarray:
    """An Arrow column (Array or ChunkedArray) as one numpy array, built
    from its buffers with no pandas step (``to_numpy`` imports pandas):

    - fixed-width numbers are views of the data buffer; with nulls the
      column turns float64 with NaN at the null slots (as pandas does);
    - strings and binary are Python ``str``/``bytes`` cut from the
      offsets and data buffers, None at null slots;
    - a list is an object array of per-row views of its values array
      (``list<float>`` embeddings: float32 views of one buffer).

    Any other type (bool, large_*, ...) goes through ``to_pylist``."""
    parts = [_array_to_numpy(a) for a in getattr(col, "chunks", [col])]
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def read_columns(dirs: List[str], columns: List[str],
                 shards: Optional[set] = None) -> Dict[str, np.ndarray]:
    """``columns`` of the union of dataset dirs (``segment_dirs``) as
    {name: numpy array}: no Spark, no pandas.  Each file is read with
    ``pq.ParquetFile``; a ``k=v`` dir key (a base table's ``shard=K``)
    becomes an int column next to the file's own, so shard-partitioned
    base dirs and un-partitioned delta parts union by name.  ``shards``
    keeps only those shards' rows (``shard`` must be among ``columns``);
    ``shard=`` dirs of other shards are not opened.  No file at all gives
    every column, empty."""
    import pyarrow.parquet as pq

    assert shards is None or "shard" in columns
    pieces: Dict[str, list] = {c: [] for c in columns}
    for d in dirs:
        for path, keys in parquet_files(d):
            if (shards is not None and "shard" in keys
                    and int(keys["shard"]) not in shards):
                continue
            pf = pq.ParquetFile(path)
            t = pf.read(columns=[c for c in columns if c not in keys])
            for c in columns:
                pieces[c].append(
                    np.full(t.num_rows, int(keys[c]), dtype=np.int64)
                    if c in keys else arrow_to_numpy(t.column(c)))
    out = {
        c: np.concatenate(ps) if ps else np.empty(0, dtype=object)
        for c, ps in pieces.items()
    }
    if shards is not None:
        keep = np.isin(out["shard"], sorted(shards))
        if not keep.all():
            out = {c: a[keep] for c, a in out.items()}
    return out


class IndexStore:
    def __init__(self, root: str, build_id: Optional[str] = None):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "manifest.json")
        m = self._read_manifest()
        other_format = bool(m) and m.get("format") != STORE_FORMAT
        if build_id is not None and (
                other_format or m.get("build_id") not in (None, build_id)):
            # a different build, or code of another format, owns this
            # dir: start fresh
            shutil.rmtree(root)
            os.makedirs(root, exist_ok=True)
            m = {}
        elif other_format:
            raise ValueError(
                f"{root}: store format {m.get('format')}, this code reads "
                f"format {STORE_FORMAT}; rebuild the store")
        self.manifest = m or {
            "build_id": build_id or uuid.uuid4().hex,
            "format": STORE_FORMAT,
            "stages": {},
        }
        if not m:
            # only materialize a fresh manifest; opening an existing store
            # must not write (concurrent read-only openers -- e.g. several
            # serving replicas attaching to one index -- would race on the
            # manifest tmp file)
            self._write_manifest()
        # unique-per-instance tmp suffix so any two writers that do race
        # (same store opened twice for building) still never collide
        self._tmp_tag = uuid.uuid4().hex[:8]
        # manifest mutations are serialized: postings shard-groups commit
        # from concurrent driver threads (guide §2.6 job overlap)
        self._manifest_lock = threading.Lock()

    @property
    def build_id(self) -> str:
        return self.manifest["build_id"]

    # --- manifest ---
    def _read_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {}

    def _write_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp_" + getattr(self, "_tmp_tag", "0")
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def save_config(self, cfg: IndexConfig) -> None:
        """Record the build's IndexConfig in the manifest.  The physical
        layout (shards, term buckets, block size) and the BM25 constants
        baked into the stored block bounds belong to the store, so every
        later reader -- serve, stream, compaction -- takes them from here."""
        saved = asdict(cfg)
        saved["fields"] = list(saved["fields"])
        with self._manifest_lock:
            self.manifest["index_config"] = saved
            self._write_manifest()

    def saved_config(self) -> IndexConfig:
        """The IndexConfig recorded by ``save_config``, or the default one
        for a store whose manifest holds none."""
        saved = self.manifest.get("index_config")
        if not saved:
            return IndexConfig()
        return IndexConfig(**{**saved, "fields": tuple(saved["fields"])})

    def corpus_stats(self) -> dict:
        """{field: (n_docs, avgdl)} of the ``corpus_stats`` table, read
        with ``read_columns``: a few rows, so no Spark job."""
        t = read_columns([self.path("corpus_stats")],
                         ["field", "n_docs", "avgdl"])
        return {
            f: (int(n), float(a))
            for f, n, a in zip(t["field"].tolist(), t["n_docs"].tolist(),
                               t["avgdl"].tolist())
        }

    def segment_offsets(self) -> dict:
        """{shard: max local_id} over the base ``unified`` table and every
        committed stream segment.  A new segment's ids start past these,
        or two segments would alias a (shard, local_id) slot, which the
        positional serve accumulator conflates.

        The base maxima are the row-group statistics in the footers of
        the shard-partitioned ``unified`` files; each segment's are the
        ``max_local`` map its ``stream_deltas`` commit records.  No data
        page is read.  Uncommitted (orphan) parts are not counted: the
        stream removes them before it reads the offsets."""
        import pyarrow.parquet as pq

        offs: dict = {}

        def fold(shard, mx) -> None:
            offs[int(shard)] = max(offs.get(int(shard), -1), int(mx))

        for d in self.list_parts("unified"):  # shard=K dirs
            for f in os.listdir(self.path("unified", d)):
                if f.endswith(".parquet"):
                    md = pq.read_metadata(os.path.join(self.path("unified", d), f))
                    col = md.schema.names.index("local_id")
                    for rg in range(md.num_row_groups):
                        if md.row_group(rg).num_rows:
                            fold(d.split("=", 1)[1],
                                 md.row_group(rg).column(col).statistics.max)
        parts = self.manifest["stages"].get("stream_deltas", {}).get("parts", {})
        for part, info in parts.items():
            if info.get("status") == "done":
                for s, mx in info["metrics"]["max_local"].items():
                    fold(s, mx)
        return offs

    def stage_done(self, stage: str, part: Optional[str] = None) -> bool:
        st = self.manifest["stages"].get(stage)
        if not st:
            return False
        if part is None:
            return st.get("status") == "done"
        return st.get("parts", {}).get(part, {}).get("status") == "done"

    def begin_stage(self, stage: str) -> None:
        with self._manifest_lock:
            self.manifest["stages"].setdefault(
                stage, {"status": "running", "parts": {}}
            )["started_ts"] = time.time()
            self._write_manifest()

    def finish_stage(self, stage: str, metrics: Optional[dict] = None) -> None:
        with self._manifest_lock:
            st = self.manifest["stages"][stage]
            st["status"] = "done"
            st["finished_ts"] = time.time()
            if metrics:
                st["metrics"] = metrics
            self._write_manifest()

    def finish_part(self, stage: str, part: str, metrics: Optional[dict] = None) -> None:
        with self._manifest_lock:
            st = self.manifest["stages"].setdefault(stage, {"status": "running", "parts": {}})
            st.setdefault("parts", {})[part] = {
                "status": "done",
                "finished_ts": time.time(),
                "metrics": metrics or {},
            }
            self._write_manifest()

    # Tables whose top-level part dirs are committed individually via
    # ``finish_part`` under the listed manifest stage(s).  Every other
    # table is committed whole (one atomic rename in ``write``), so its
    # top-level entries are hive partition dirs / data files, not parts.
    _PART_STAGES = {
        "postings": ("postings", "stream_deltas"),
        "attributes_delta": ("stream_deltas",),
        "unified_delta": ("stream_deltas",),
    }

    def _done_part_names(self, stages) -> set:
        done = set()
        for st in stages:
            for p, info in self.manifest["stages"].get(st, {}).get("parts", {}).items():
                if info.get("status") == "done":
                    done.add(p)
        return done

    def list_parts(self, table: str) -> list:
        """Raw on-disk top-level entries of a table (tmp/hidden excluded)."""
        base = self.path(table)
        if not os.path.exists(base):
            return []
        return sorted(
            d for d in os.listdir(base)
            if not d.startswith(("_", ".")) and "__tmp" not in d
        )

    def committed_parts(self, table: str) -> list:
        """On-disk parts that the manifest has committed.

        The disk listing alone is NOT the source of truth: a writer that
        crashed between the (rename-atomic) part write and the manifest
        commit leaves an orphan part that must never be served — serving
        it would alias (shard, local_id) slots against the retry's
        segment (the positional serve accumulator then conflates distinct
        documents).  Iceberg gets this for free (uncommitted data files
        are invisible to snapshots); this is the parquet-dir analog.
        Whole-table-committed tables return their full listing (their
        rename IS the commit)."""
        entries = self.list_parts(table)
        stages = self._PART_STAGES.get(table)
        if stages is None:
            return entries
        done = self._done_part_names(stages)
        return [d for d in entries if d in done]

    def orphan_parts(self, table: str) -> list:
        """On-disk parts with no manifest commit (crashed-writer leftovers)."""
        stages = self._PART_STAGES.get(table)
        if stages is None:
            return []
        done = self._done_part_names(stages)
        return [d for d in self.list_parts(table) if d not in done]

    def gc_orphan_parts(self, tables=None) -> dict:
        """Remove uncommitted part dirs.  Safe by construction: an orphan
        part's batch was never committed to the stream checkpoint either
        (the manifest part commit happens before foreachBatch returns),
        so the source replays it.  Returns {table: [removed parts]}."""
        removed = {}
        for table in (tables or self._PART_STAGES):
            dead = self.orphan_parts(table)
            for d in dead:
                shutil.rmtree(os.path.join(self.path(table), d), ignore_errors=True)
            if dead:
                removed[table] = dead
        return removed

    def has_parts(self, table: str) -> bool:
        return bool(self.committed_parts(table))

    # --- table io (Iceberg writeTo on a real catalog) ---
    def path(self, table: str, part: Optional[str] = None) -> str:
        p = os.path.join(self.root, table)
        return os.path.join(p, part) if part else p

    def write(self, df: DataFrame, table: str, part: Optional[str] = None,
              partition_by: Optional[list] = None,
              options: Optional[dict] = None) -> str:
        """Atomic-ish: write to tmp, rename into place.

        ``options`` passes parquet writer options through -- the doc store
        (unified/unified_delta) sets a small ``parquet.block.size`` so
        point lookups decode a bounded row group instead of a whole
        shard's column chunk (serve-path enrichment reads <=k rows by id;
        one 128 MB-default row group makes the id-sorted min/max stats
        useless and every fetch decompress the full content column)."""
        final = self.path(table, part)
        tmp = final + f".__tmp_{uuid.uuid4().hex[:8]}"
        w = df.write.mode("overwrite")
        if options:
            w = w.options(**options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.replace(tmp, final)
        return final

    def read(self, spark: SparkSession, table: str, part: Optional[str] = None) -> DataFrame:
        """One dataset dir, read with the Spark schema in its footers (see
        ``_read_dir``): no schema-inference job."""
        path = self.path(table, part)
        return _read_dir(spark, path, _first_parquet(path))

    def segment_dirs(self, table: str) -> list:
        """The dataset dirs that make up a served table -- the one place
        that decides which segments a reader sees.

        A per-part-committed table (``postings``, ``*_delta``) is its
        manifest-committed parts; any other table is its base dir plus
        the committed parts of its ``<table>_delta`` tier, if it has one
        (``unified`` and ``attributes``: the Lucene-segment view of base
        + streamed segments).  Orphan parts of a crashed writer are never
        listed (see ``committed_parts``)."""
        if table in self._PART_STAGES:
            return [self.path(table, d) for d in self.committed_parts(table)]
        dirs = [self.path(table)]
        delta = table + "_delta"
        if delta in self._PART_STAGES:
            dirs += [self.path(delta, d) for d in self.committed_parts(delta)]
        return dirs

    def read_parts(self, spark: SparkSession, table: str) -> DataFrame:
        """Union of ``segment_dirs(table)`` (see ``read_dirs``)."""
        return self.read_dirs(spark, table, self.segment_dirs(table))

    def read_dirs(self, spark: SparkSession, table: str,
                  dirs: list) -> DataFrame:
        """Union by name of ``table``'s dataset dirs ``dirs``.  Segments
        may use different partition keys (grp=, delta=, or shard= dirs
        against an un-partitioned part), so each is read separately and
        unioned by name.  A dir
        with no file (a shard-group that held no shard before empty parts
        wrote a zero-row file) has no schema and no rows: skipped.  Each
        dir is read with its footer schema (``_read_dir``), so the union
        plans without a Spark job."""
        firsts = [(d, _first_parquet(d)) for d in dirs]
        dfs = [_read_dir(spark, d, f) for d, f in firsts if f]
        if not dfs:
            raise FileNotFoundError(
                f"table {table!r} has no rows: {dirs}; on disk: "
                f"{self.list_parts(table)}"
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def exists(self, table: str, part: Optional[str] = None) -> bool:
        return os.path.exists(self.path(table, part))

    # build_metrics schema (FIXTURES.md): kept identical to what the
    # previous Spark `createDataFrame(...).write.parquet` emitted so old
    # and new part files union cleanly under one reader.
    _METRICS_FIELDS = (
        ("build_id", "string"), ("stage", "string"), ("shard", "int32"),
        ("rows", "int64"), ("docs_per_sec", "float64"),
        ("postings_per_sec", "float64"), ("bytes_in", "int64"),
        ("bytes_compressed", "int64"), ("wall_sec", "float64"),
    )

    def append_metrics(self, rows: list) -> None:
        """Per-partition lineage/metrics rows (FIXTURES.md build_metrics).

        Written driver-side with pyarrow: the rows are per-shard scalars
        (KBs), so a Spark `createDataFrame + coalesce(1).write` job here
        was pure scheduling overhead -- one of 4+ such actions that made
        the postings stage spend 3x its actual compute wall in metrics
        bookkeeping (OPTIMIZATION_r06.md)."""
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [pa.field(n, getattr(pa, t)()) for n, t in self._METRICS_FIELDS]
        )
        cols = list(zip(*rows))
        tbl = pa.table(
            {f[0]: list(c) for f, c in zip(self._METRICS_FIELDS, cols)},
            schema=schema,
        )
        out = self.path("build_metrics", f"part={uuid.uuid4().hex[:8]}")
        tmp = out + f".__tmp_{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
        if os.path.exists(out):
            shutil.rmtree(out)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        os.replace(tmp, out)
