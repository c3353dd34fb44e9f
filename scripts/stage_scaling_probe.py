"""Localize NON-SCALING time in the index build via the Spark event log.

BENCH_SCALING.md round 4 (cont.) measured the mapside-postings build at
0.535 N->4N efficiency with the postings job group scaling at only
1.62x; an Amdahl fit puts ~590 s of effectively-serial time inside
that group at both levels.  Wall-clock alone cannot say WHERE it is,
so this probe runs the same build (embeddings OFF) at local[N] and
local[4N] with the event log on and reports, per job group and per
Spark stage inside it:

  wall        submission -> completion of the stage
  task_sum    sum of Executor Run Time over tasks (the parallel work)
  cpu         sum of Executor CPU Time (on-CPU fraction of task_sum)
  gc          sum of JVM GC Time
  n_tasks     task count (a stage with < cores tasks CANNOT scale)
  gap         job-group wall minus the union of its stage intervals
              (driver-side serial time: planning, collect, commit)

A stage whose task_sum is ~equal at both levels but whose wall ratio
is ~1x is parallelism-starved (too few tasks / skew); a stage whose
task_sum GROWS at 4N is contention (memory bandwidth, GC, Python
worker thrash); a large gap is driver-serial work.

Usage:
  python scripts/stage_scaling_probe.py [replicate] [Nlow]   # default 96 4
  python scripts/stage_scaling_probe.py --child CPUS REPLICATE OUT
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(cpus: int, replicate: int, out_path: str) -> None:
    import shutil

    from pyspark.sql import functions as F

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{8 + cpus // 2}g")

    from chavinha_mini_search_engine_spark.fixtures.pages import pages_from_documents
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.session import get_spark
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    def cpu_stat():
        with open("/proc/stat") as f:
            parts = f.readline().split()
        # user nice system idle iowait irq softirq steal
        vals = [int(x) for x in parts[1:9]]
        return {"busy": sum(vals) - vals[3] - vals[4], "steal": vals[7],
                "total": sum(vals)}

    evdir = tempfile.mkdtemp(prefix="stagev_")
    spark = get_spark(
        f"stage-probe-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{evdir}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    reps = spark.range(replicate).repartition(cpus * 3).select(
        F.col("id").alias("rep")
    )
    big = reps.join(F.broadcast(docs)).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
        "lang", "source", "n_chars",
    )
    pages = pages_from_documents(big, html_repeat=8)
    idx = tempfile.mkdtemp(prefix=f"stage_{cpus}_")
    ebuckets = int(os.environ.get("SPARK_GRAFT_PROBE_EBUCKETS", "8"))
    cfg = IndexConfig(num_doc_shards=256, shard_groups=1, term_buckets=64,
                      encode_buckets=ebuckets)
    t = time.time()
    c0 = cpu_stat()
    store = IndexStore(os.path.join(idx, "i"), build_id="s")
    build_index(spark, pages, store, cfg, with_embeddings=False,
                verify_text_invariant=False, collect_metrics=False)
    wall = time.time() - t
    c1 = cpu_stat()
    dt_total = max(c1["total"] - c0["total"], 1)
    host = {"host_busy_pct": round(100 * (c1["busy"] - c0["busy"]) / dt_total, 1),
            "host_steal_pct": round(100 * (c1["steal"] - c0["steal"]) / dt_total, 2)}
    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()

    # ---- event-log parse ----------------------------------------------
    stage_group: dict = {}      # stage id -> job group
    stage_info: dict = {}       # stage id -> dict
    paths = [p for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "untagged")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif e == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info") or {}
                    sid = si.get("Stage ID")
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    d = stage_info.setdefault(sid, {
                        "name": (si.get("Stage Name") or "")[:60],
                        "sub": None, "comp": None, "task_ms": 0,
                        "cpu_ms": 0, "gc_ms": 0, "n": 0})
                    if sub and comp:
                        d["sub"], d["comp"] = sub, comp
                elif e == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    m = ev.get("Task Metrics") or {}
                    d = stage_info.setdefault(sid, {
                        "name": "?", "sub": None, "comp": None,
                        "task_ms": 0, "cpu_ms": 0, "gc_ms": 0, "n": 0})
                    d["task_ms"] += m.get("Executor Run Time", 0)
                    d["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
                    d["gc_ms"] += m.get("JVM GC Time", 0)
                    d["n"] += 1
    shutil.rmtree(evdir, ignore_errors=True)

    groups: dict = {}
    for sid, d in stage_info.items():
        grp = stage_group.get(sid, "untagged")
        g = groups.setdefault(grp, {"stages": [], "intervals": []})
        st = {
            "sid": sid, "name": d["name"], "n_tasks": d["n"],
            "wall_s": round(((d["comp"] or 0) - (d["sub"] or 0)) / 1e3, 1),
            "task_sum_s": round(d["task_ms"] / 1e3, 1),
            "cpu_s": round(d["cpu_ms"] / 1e3, 1),
            "gc_s": round(d["gc_ms"] / 1e3, 1),
        }
        g["stages"].append(st)
        if d["sub"] and d["comp"]:
            g["intervals"].append((d["sub"], d["comp"]))
    for grp, g in groups.items():
        ivs = sorted(g["intervals"])
        span = (ivs[-1][1] - ivs[0][0]) / 1e3 if ivs else 0.0
        covered = 0.0
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        g["span_s"] = round(span, 1)
        g["stage_gap_s"] = round(span - covered / 1e3, 1)
        g["stages"].sort(key=lambda s: -s["wall_s"])
        g["stages"] = g["stages"][:6]
        del g["intervals"]

    with open(out_path, "w") as f:
        json.dump({"cpus": cpus, "n_pages": 5000 * replicate,
                   "wall_sec": round(wall, 1), "host": host,
                   "groups": groups}, f)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
        return
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 96
    n_low = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    for cpus in (n_low, 4 * n_low):
        out = f"/tmp/stage_probe_{cpus}.json"
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus),
             str(replicate), out],
            check=True, cwd=REPO,
        )
        with open(out) as f:
            print(json.dumps(json.load(f), indent=1), flush=True)


if __name__ == "__main__":
    main()
