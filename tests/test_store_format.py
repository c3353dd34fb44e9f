"""The store format number.

A fresh manifest records ``tables.STORE_FORMAT``.  ``IndexStore(root)``
refuses a store of another format, or of none (written by code older than
the number); ``IndexStore(root, build_id=...)``, which every build entry
uses, starts such a dir fresh instead of resuming it.  This is what keeps
the ``bm25_topk_indexed`` gate's cached index, which is keyed on its input
data only, from being read after a layout change.
"""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from chavinha_mini_search_engine_spark.sources.tables import (
    STORE_FORMAT,
    IndexStore,
)
from tests.test_indexed_gate import SF

# a manifest's format key: absent (older code), and two other numbers
OTHER_FORMATS = [None, STORE_FORMAT - 1, STORE_FORMAT + 1]


def _write_manifest(root: str, fmt, build_id: str = "old") -> None:
    """A store dir whose manifest has every stage done, in format ``fmt``
    (no key for None), with one table file."""
    os.makedirs(os.path.join(root, "postings", "grp=0"))
    with open(os.path.join(root, "postings", "grp=0", "part-0.parquet"),
              "wb") as f:
        f.write(b"old")
    m = {"build_id": build_id,
         "stages": {s: {"status": "done", "parts": {}}
                    for s in ("docs", "chunks", "unified", "stats",
                              "postings", "attributes")}}
    if fmt is not None:
        m["format"] = fmt
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(m, f)


def test_fresh_store_records_the_format(tmp_path):
    store = IndexStore(str(tmp_path / "i"))
    assert store.manifest["format"] == STORE_FORMAT
    with open(os.path.join(store.root, "manifest.json")) as f:
        assert json.load(f)["format"] == STORE_FORMAT
    assert IndexStore(store.root).manifest["format"] == STORE_FORMAT


@pytest.mark.parametrize("fmt", OTHER_FORMATS)
def test_reader_raises_on_another_format(tmp_path, fmt):
    root = str(tmp_path / "i")
    _write_manifest(root, fmt)
    with pytest.raises(ValueError) as e:
        IndexStore(root)
    assert f"format {fmt}" in str(e.value)
    assert f"format {STORE_FORMAT}" in str(e.value)
    # the refused store is left as it was
    assert os.path.exists(os.path.join(root, "postings", "grp=0"))


@pytest.mark.parametrize("fmt", OTHER_FORMATS)
@pytest.mark.parametrize("build_id", ["old", "new"])
def test_build_entry_starts_another_format_fresh(tmp_path, fmt, build_id):
    """With a build_id, a store of another format is removed and started
    empty, whether or not the build ids match."""
    root = str(tmp_path / "i")
    _write_manifest(root, fmt)
    store = IndexStore(root, build_id=build_id)
    assert store.manifest["stages"] == {}
    assert store.manifest["format"] == STORE_FORMAT
    assert store.build_id == build_id
    assert os.listdir(root) == ["manifest.json"]
    assert not store.stage_done("postings")
    IndexStore(root)  # now readable


def _as_old_format(spark, src: IndexStore, root: str, build_id: str) -> None:
    """A copy of ``src`` in the layout written before the format number:
    postings carry the field and term strings instead of the tid,
    ``term_dict`` has no tid, and the manifest no format."""
    shutil.copytree(src.root, root)
    names = src.read(spark, "term_dict").select("tid", "field", "term")
    for part in src.committed_parts("postings"):
        (src.read(spark, "postings", part).join(names, "tid").drop("tid")
         .write.mode("overwrite")
         .parquet(os.path.join(root, "postings", part)))
    (src.read(spark, "term_dict").drop("tid").write.mode("overwrite")
     .parquet(os.path.join(root, "term_dict")))
    path = os.path.join(root, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    del m["format"]
    m["build_id"] = build_id
    with open(path, "w") as f:
        json.dump(m, f)


def test_gate_rebuilds_an_old_format_store(spark, built, tmp_path,
                                           monkeypatch):
    """The gate's cached store, left by code older than the format number
    (a completed manifest with string-keyed postings, under the gate's
    root and build id), is rebuilt, not read: the gate answers the DuckDB
    twin's top-10 and leaves a current-format store behind."""
    import duckdb

    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "BM25_INDEX_GATE_ROOT", str(tmp_path / "gate"))
    root = entry._bm25_index_store_root(SF)
    _as_old_format(spark, built, root, "gate-bm25-indexed")
    with pytest.raises(ValueError):
        IndexStore(root)

    got = [(r["doc_id"], r["score"])
           for r in entry._q_bm25_topk_indexed(spark, SF).collect()]

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    exp = con.execute(entry._BM25_INDEXED_SQL).fetchall()
    assert len(exp) == 10
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=1e-6)

    store = IndexStore(root)
    assert store.build_id == "gate-bm25-indexed"
    assert store.manifest["format"] == STORE_FORMAT
    for d in store.segment_dirs("postings"):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                names = pq.read_schema(os.path.join(d, f)).names
                assert "tid" in names and "term" not in names, f
