"""Postings are keyed by the int64 term id and hold no strings.

``tid = xxhash64(field, term)`` keys every posting list from the build to
the serve path; ``term_dict`` is the only table that maps (field, term) to
it.  A postings block row therefore carries no string column (the field
and term strings would be re-attached per block and factorized again at
load).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from chavinha_mini_search_engine_spark.functions.xxhash import xxh64
from chavinha_mini_search_engine_spark.sources.tables import parquet_files


def _spark_xxhash64(*cols: str) -> int:
    """Spark's ``xxhash64(a, b, ...)``: each value's UTF-8 bytes hashed
    with the previous hash as the seed, starting from 42; signed."""
    h = 42
    for c in cols:
        h = xxh64(c.encode("utf-8"), h)
    return h - (1 << 64) if h >= (1 << 63) else h


def _stores(built, delta_store):
    return [built, delta_store[0]]


def test_postings_parts_hold_no_string_column(built, delta_store):
    """Every committed postings part (base shard-groups and streamed
    segments) is keyed by an int64 ``tid`` and has no string column."""
    seen = set()
    for store in _stores(built, delta_store):
        for d in store.segment_dirs("postings"):
            files = [f for f, _keys in parquet_files(d)]
            assert files, d
            for f in files:
                schema = pq.read_schema(f)
                assert schema.field("tid").type == pa.int64(), f
                strings = [fl.name for fl in schema
                           if pa.types.is_string(fl.type)
                           or pa.types.is_large_string(fl.type)]
                assert strings == [], (f, strings)
                assert "field" not in schema.names, f
                assert "term" not in schema.names, f
            seen.add(os.path.basename(d).split("=")[0])
    assert seen == {"grp", "delta"}


def test_term_dict_tid_is_the_hash_of_field_and_term(built, delta_store):
    """Every ``term_dict`` row's stored tid is xxhash64(field, term),
    computed here with the pure-Python XXH64, and no two rows share one."""
    for store in _stores(built, delta_store):
        t = pq.read_table(store.path("term_dict"),
                          columns=["field", "term", "tid"])
        assert t.num_rows
        fields = t.column("field").to_pylist()
        terms = t.column("term").to_pylist()
        tids = t.column("tid").to_pylist()
        bad = [(f, w, tid) for f, w, tid in zip(fields, terms, tids)
               if tid != _spark_xxhash64(f, w)]
        assert bad == [], bad[:5]
        assert len(set(tids)) == len(tids)


def test_every_postings_tid_is_in_term_dict(built, delta_store):
    """The dictionary maps every stored posting list: each postings tid
    has exactly one ``term_dict`` row."""
    for store in _stores(built, delta_store):
        names = set(pq.read_table(store.path("term_dict"),
                                  columns=["tid"]).column("tid").to_pylist())
        for d in store.segment_dirs("postings"):
            for f, _keys in parquet_files(d):
                tids = set(pq.read_table(f, columns=["tid"])
                           .column("tid").to_pylist())
                assert tids <= names, f
