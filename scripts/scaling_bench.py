"""N vs 4N scaling run (north_rule: >=0.8 throughput scaling efficiency).

No real cluster exists in this sandbox, so the same full index-build job
(extract -> chunk -> embed -> tokenize -> postings -> attributes) runs in
two fresh subprocesses at local[8] and local[32] over the SAME input
(driver documents table replicated JVM-side to make the workload
compute-bound), and we report docs/sec at both plus
efficiency = (T_N / T_4N) / 4.  Results land in BENCH_SCALING.md.

Usage:
  python scripts/scaling_bench.py                # parent: runs both, reports
  python scripts/scaling_bench.py --child C R SF OUT   # one measured run
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLICATE = int(os.environ.get("SCALING_REPLICATE", "24"))
HTML_REPEAT = int(os.environ.get("SCALING_HTML_REPEAT", "8"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# SCALING_EMBED=0 measures the index-build core without the embedding
# stages: the reference embeds on GPU (indexer.py:58), so the CPU
# pseudo-embedder is a stand-in whose scaling is reported separately
EMBED = os.environ.get("SCALING_EMBED", "1") != "0"


def child(cpus: int, replicate: int, sf_dir: str, out_path: str) -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from chavinha_mini_search_engine_spark.fixtures.pages import pages_from_documents
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.session import get_spark
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    # modest heap on purpose: every file commit on the non-native Hadoop
    # local FS fork+execs shell utilities, and fork cost scales with JVM
    # page tables -- a 48g heap measurably anti-scales the run
    # memory scales with cores, as executor memory does on a real cluster
    # (a fixed heap quarters each task's execution memory at 4x the
    # threads -> the wide unified/attributes sorts spill ONLY at the high
    # level, which reads as fake anti-scaling).  Kept moderate overall: a
    # 48g heap made every local-FS commit fork brutally slow (round 1).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{8 + cpus // 2}g")
    # cpus*2 shuffle partitions: an A/B at 3.84M (round 3) measured
    # cpus*4 -- tried against the round-2 merge straggler tail -- REGRESSED
    # the local[16] postings stage by ~8-25% (more Arrow batches + python
    # worker waves per group, no balance win at 2048 merge groups), so the
    # round-2 setting stands
    spark = get_spark(
        f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    # the replicated source must be parallel BEFORE the html-building
    # projection: sf0.1 is one parquet file, and a 1-partition crossJoin
    # would funnel every downstream stage through a single upstream task
    reps = spark.range(replicate).repartition(cpus * 3).select(
        F.col("id").alias("rep")
    )
    big = reps.join(F.broadcast(docs)).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
        "lang", "source", "n_chars",
    )
    pages = pages_from_documents(big, html_repeat=HTML_REPEAT)
    n_pages = n_docs * replicate
    idx = tempfile.mkdtemp(prefix=f"scale_{cpus}_")
    # shard_groups=1: one postings round (the checkpoint granularity knob
    # only adds serial rounds; scaling measures raw throughput).
    # num_doc_shards=256 = 4x the max core count tested (the config
    # docstring's cluster sizing rule): per-task sort/cogroup units stay
    # small enough to never spill at either parallelism level.
    cfg = IndexConfig(num_doc_shards=256, shard_groups=1, term_buckets=64,
                      encode_buckets=8)
    t = time.time()
    store = IndexStore(os.path.join(idx, "i"), build_id="s")
    build_index(spark, pages, store, cfg, with_embeddings=EMBED,
                verify_text_invariant=False)
    wall = time.time() - t
    stage_walls = {}
    stage_metrics = {}
    for st, v in store.manifest["stages"].items():
        m = v.get("metrics", {})
        w = m.get("wall_sec")
        if w is None:
            w = sum(p["metrics"].get("wall_sec", 0) for p in v.get("parts", {}).values())
        stage_walls[st] = round(w, 1)
        # keep sub-stage timings (e.g. stats: tf_write_sec / doclens_sec /
        # corpus_stats_sec / term_dict_sec) -- the manifest dir is deleted
        # below, so this json is the only record a scaling run leaves
        if len(m) > 1:
            stage_metrics[st] = {k: round(x, 1) for k, x in m.items()
                                 if isinstance(x, (int, float))}
        # part-checkpointed stages (postings) record their sub-metrics per
        # part, not at stage level -- aggregate numeric keys across parts
        # so those survive the manifest deletion too
        parts = v.get("parts", {})
        if parts:
            agg: dict = {}
            for p in parts.values():
                for k, x in p.get("metrics", {}).items():
                    if isinstance(x, (int, float)):
                        agg[k] = agg.get(k, 0) + x
            if agg:
                stage_metrics.setdefault(st, {}).update(
                    {f"parts_{k}": round(x, 1) for k, x in agg.items()}
                )
    shutil.rmtree(idx, ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump({"cpus": cpus, "n_pages": n_pages, "wall_sec": wall,
                   "docs_per_sec": n_pages / wall, "stage_walls": stage_walls,
                   "stage_metrics": stage_metrics}, f)
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5])
        return
    # alternating repeated runs; min per level controls for shared-host
    # noise (the sandbox machine is multi-tenant)
    n_low = int(os.environ.get("SCALING_N", "4"))
    n_high = 4 * n_low
    rounds = int(os.environ.get("SCALING_ROUNDS", "3"))
    runs: dict = {n_low: [], n_high: []}
    for _ in range(rounds):
        for cpus in (n_low, n_high):
            out = f"/tmp/scaling_{cpus}.json"
            print(f"running build at local[{cpus}] ...", flush=True)
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", str(cpus),
                 str(REPLICATE), SF_DIR, out],
                check=True, cwd=REPO,
            )
            with open(out) as f:
                r = json.load(f)
            runs[cpus].append(r)
            print(json.dumps(r), flush=True)
    results = {c: min(rs, key=lambda r: r["wall_sec"]) for c, rs in runs.items()}
    t8, t32 = results[n_low]["wall_sec"], results[n_high]["wall_sec"]
    eff = (t8 / t32) / 4.0
    summary = {
        "workload": f"full index build, {results[n_low]['n_pages']} pages "
                    f"(documents sf dir {SF_DIR} x{REPLICATE}"
                    f"{', embeddings OFF' if not EMBED else ''})",
        "runs_per_level": rounds,
        "n_low": n_low, "n_high": n_high,
        "all_walls": {str(c): [round(r["wall_sec"], 1) for r in rs] for c, rs in runs.items()},
        "localN_wall_sec": round(t8, 1),
        "localN_docs_per_sec": round(results[n_low]["docs_per_sec"], 1),
        "local4N_wall_sec": round(t32, 1),
        "local4N_docs_per_sec": round(results[n_high]["docs_per_sec"], 1),
        "speedup_N_to_4N": round(t8 / t32, 3),
        "scaling_efficiency": round(eff, 3),
        "target": ">= 0.8",
        "ts": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    print(json.dumps(summary))
    md = os.path.join(REPO, "BENCH_SCALING.md")
    header = not os.path.exists(md)
    with open(md, "a") as f:
        if header:
            f.write(
                "# N vs 4N scaling runs\n\n"
                "Same full index-build job at two parallelism levels on the\n"
                "same input (no real cluster in this sandbox; see BASELINE.md).\n"
                "efficiency = (T_N / T_4N) / 4, target >= 0.8.\n\n"
            )
        f.write("```json\n" + json.dumps(summary, indent=2) + "\n```\n\n")


if __name__ == "__main__":
    main()
