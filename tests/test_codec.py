import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from chavinha_mini_search_engine_spark.functions.codec import (
    delta_decode,
    delta_encode,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**35), min_size=1, max_size=400, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_varbyte_known_values():
    # 0 -> 0x00 ; 127 -> 0x7f ; 128 -> 0x80 0x01 (LEB128 little-endian)
    assert varbyte_encode(np.array([0])) == b"\x00"
    assert varbyte_encode(np.array([127])) == b"\x7f"
    assert varbyte_encode(np.array([128])) == b"\x80\x01"
    assert varbyte_encode(np.array([300])) == b"\xac\x02"


def test_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0
    assert delta_encode(np.array([], dtype=np.uint64)) == b""


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_varbyte_encode_segmented_matches_per_segment(values, data):
    from chavinha_mini_search_engine_spark.functions.codec import (
        varbyte_encode_segmented,
    )

    arr = np.array(values, dtype=np.uint64)
    n_segs = data.draw(st.integers(min_value=1, max_value=min(8, len(arr))))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=len(arr) - 1)
                if len(arr) > 1 else st.nothing(),
                max_size=n_segs - 1, unique=True,
            )
        )
    ) if len(arr) > 1 else []
    starts = np.array([0] + cuts, dtype=np.int64)
    buf, offs = varbyte_encode_segmented(arr, starts)
    raw = buf.tobytes()
    bounds = list(starts) + [len(arr)]
    for i in range(len(starts)):
        seg = arr[bounds[i]:bounds[i + 1]]
        assert raw[offs[i]:offs[i + 1]] == varbyte_encode(seg)
    assert offs[-1] == len(raw)


def _reference_blocks(tf, tdict, stats, cfg):
    """Pure-Python postings encode: per (field, term, shard) the sorted
    local_ids tiled into block_size blocks, each with first/last/n, the
    delta-encoded ids, the varbyte tfs and max_score = max over the
    block of idf*tf/(tf + k1*(1 - b + b*dl/avgdl))."""
    idf = dict(zip(zip(tdict["field"], tdict["term"]), tdict["idf"]))
    avgdl = dict(zip(stats["field"], stats["avgdl"]))
    tf = tf.assign(field=[cfg.fields[i] for i in tf["fidx"]])
    out = {}
    for (field, term, shard), g in tf.groupby(["field", "term", "shard"]):
        g = g.sort_values("local_id")
        ids = g["local_id"].to_numpy(np.uint64)
        tfs = g["tf"].to_numpy(np.uint64)
        t = tfs.astype(np.float64)
        dl = g["dl"].to_numpy(np.float64)
        denom = t + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / avgdl[field])
        score = idf[(field, term)] * t / denom
        for bi, s in enumerate(range(0, len(ids), cfg.block_size)):
            e = min(s + cfg.block_size, len(ids))
            out[(field, term, int(shard), bi)] = (
                int(ids[s]), int(ids[e - 1]), e - s, float(score[s:e].max()),
                delta_encode(ids[s:e]), varbyte_encode(tfs[s:e]),
            )
    return out


def _assert_blocks_equal(got, ref):
    """Block metadata and payload bytes exact; the stored bound is
    idf * max_tfnorm * (1+1e-12) -- within 1e-9 relative of the
    reference's max(fl(idf*tf/denom)) and never BELOW it by more than
    float ulps, or pruning soundness is broken."""
    assert set(got) == set(ref)
    for key, r in ref.items():
        g = got[key]
        assert g[:3] == r[:3], key
        assert g[4:] == r[4:], key
        assert abs(g[3] - r[3]) <= 1e-9 * max(abs(r[3]), 1e-30), key
        assert g[3] >= r[3] * (1.0 - 1e-13), key


def _block_map(rows, names):
    """Blocks keyed by (field, term, shard, block_idx), the (field, term)
    of a block's tid taken from the dictionary (``names``: tid ->
    (field, term))."""
    return {
        (*names[r["tid"]], r["shard"], r["block_idx"]):
        (r["first_local"], r["last_local"], r["n"],
         r["max_score"], bytes(r["doc_bytes"]), bytes(r["tf_bytes"]))
        for r in rows
    }


def test_postings_paths_identical(spark, built, monkeypatch):
    """Both scans of build_postings_for -- the pyarrow row-group scan
    (scan_units) and the JVM DataFrame scan, over the materialized tf
    and over a tid-less tokenize-shaped tf -- produce exactly the blocks
    of a pure-Python reference encode, and so does the stored postings
    table.  A small block size and a 700-row encode chunk make head-term
    lists span several blocks AND several partial runs, so the k-way
    merge and the block tiling are both exercised."""
    import dataclasses

    import pandas as pd
    import pyarrow.dataset as pads

    from chavinha_mini_search_engine_spark.operators import index_build as ib
    from tests.parity_cfg import CFG

    def table(name):
        return pads.dataset(
            built.path(name), format="parquet", partitioning="hive"
        ).to_table().to_pandas()

    tf_pd, td_pd, st_pd = table("tf"), table("term_dict"), table("corpus_stats")
    names = dict(zip(td_pd["tid"], zip(td_pd["field"], td_pd["term"])))
    assert len(names) == len(td_pd)
    stored = _block_map(table("postings").to_dict("records"), names)
    _assert_blocks_equal(stored, _reference_blocks(tf_pd, td_pd, st_pd, CFG))

    cfg = dataclasses.replace(CFG, block_size=16)
    ref = _reference_blocks(tf_pd, td_pd, st_pd, cfg)
    # the Python workers take their environment from the SparkContext,
    # not from the driver's os.environ
    monkeypatch.setenv("SPARK_GRAFT_ENCODE_CHUNK", "700")
    monkeypatch.setitem(spark.sparkContext.environment,
                        "SPARK_GRAFT_ENCODE_CHUNK", "700")
    units = [
        u for g in range(cfg.shard_groups)
        for u in ib.tf_scan_units(built.path("tf", f"grp={g}"))
    ]

    # the fixture's zipf heads: some (field, term, shard) list spans more
    # than one block and more than one encode chunk (partial run)
    runs = pd.concat(ib._encode_partial_runs_files(
        iter([pd.DataFrame(units, columns=["path", "rg"])])
    ))
    multi_run = set(
        map(tuple, runs.loc[runs.duplicated(["shard", "tid"], keep=False),
                            ["shard", "tid"]].to_numpy())
    )
    tid = dict(zip(zip(tf_pd["fidx"], tf_pd["term"]), tf_pd["tid"]))
    fidx = {f: i for i, f in enumerate(cfg.fields)}
    assert any(
        bi > 0 and (shard, tid[(fidx[field], term)]) in multi_run
        for field, term, shard, bi in ref
    ), "fixture must produce head-term lists spanning blocks and runs"

    tf = built.read(spark, "tf")
    td = built.read(spark, "term_dict")
    avgdl = {f: a for f, (_n, a) in built.corpus_stats().items()}
    # small Arrow batches so the JVM scan's chunks hold several batches
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        for src, scan_units in ((tf, units), (tf, None),
                                (tf.drop("tid", "grp"), None)):
            got = _block_map(
                ib.build_postings_for(src, td, avgdl, cfg,
                                      scan_units=scan_units).collect(),
                names,
            )
            _assert_blocks_equal(got, ref)
    finally:
        spark.conf.set(key, prev)
