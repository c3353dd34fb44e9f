"""A served table's segments are decided in one place.

``IndexStore.segment_dirs`` composes ``unified`` and ``attributes`` from
their base dir plus the committed parts of their ``_delta`` tier, and
every reader (``read_parts``, the resident loader, ``/api/stats``,
``compact_tiered``'s concatenation) reads exactly those dirs.  The delta
tier's table names may
therefore appear in the package only where it is laid out
(``sources/tables.py``), written (``streaming/incremental.py``) or read on
its own by ``compact_tiered`` (``operators/index_build.py``).  The serve
path (``serve.py``, ``search.py``, ``http_api.py``) never names them.
"""

import os
import re

import chavinha_mini_search_engine_spark as pkg
from chavinha_mini_search_engine_spark.sources.tables import IndexStore

ALLOWED = {
    "sources/tables.py",
    "streaming/incremental.py",
    "operators/index_build.py",
}


def test_delta_tables_named_only_by_store_writer_and_compaction():
    root = os.path.dirname(pkg.__file__)
    found = set()
    for base, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(base, fn)
                with open(path, encoding="utf-8") as f:
                    if re.search(r"\b(attributes|unified)_delta\b", f.read()):
                        found.add(os.path.relpath(path, root).replace(os.sep, "/"))
    assert found == ALLOWED


def test_segment_dirs_are_base_plus_committed_deltas(tmp_path):
    store = IndexStore(str(tmp_path / "idx"), build_id="seg")
    for table, part in [
        ("unified", "shard=0"), ("postings", "grp=0"),
        ("unified_delta", "delta=1_0"), ("unified_delta", "delta=1_1"),
        ("postings", "delta=1_0"), ("postings", "delta=1_1"),
    ]:
        os.makedirs(store.path(table, part))
    store.finish_part("postings", "grp=0")
    store.finish_part("stream_deltas", "delta=1_0")  # delta=1_1: an orphan

    assert store.segment_dirs("unified") == [
        store.path("unified"), store.path("unified_delta", "delta=1_0"),
    ]
    assert store.segment_dirs("attributes") == [store.path("attributes")]
    assert store.segment_dirs("postings") == [
        store.path("postings", "delta=1_0"), store.path("postings", "grp=0"),
    ]
    assert store.segment_dirs("term_dict") == [store.path("term_dict")]
