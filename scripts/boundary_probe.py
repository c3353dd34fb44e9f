"""Isolate WHERE per-byte cost inflates when local[N] -> local[4N].

A per-Spark-stage event-log probe (BENCH_SCALING.md) measured the
postings encode scan's summed task time inflating ~3.4x from local[4]
to local[16] on identical input (93 -> 316 s at 480k pages) while pure
numpy kernels in 4 vs 16 processes scale linearly (bandwidth_probe).  This probe separates the two halves of that
stage on a synthetic tf-shaped table (6 int64 columns):

  jvm_agg     parquet scan + whole-stage-codegen hash agg, NO python --
              isolates the JVM scan/agg path
  arrow_pass  parquet scan + mapInPandas row-count passthrough --
              adds the Arrow serialize/deserialize boundary and python
              workers, with near-zero python compute

For each job at each parallelism it reports wall and the JVM process CPU
delta (utime+stime from /proc/<pid>/stat), normalized per input row.  If
jvm_agg's per-row CPU inflates with thread count the ceiling is the JVM
scan path itself; if only arrow_pass inflates, it's the Arrow boundary.

Usage: python scripts/boundary_probe.py [rows_millions]   # default 28
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA = "/tmp/boundary_tf.parquet"


def _jvm_cpu_sec() -> float:
    """Sum CPU of all child java processes (local mode: one JVM)."""
    me = os.getpid()
    total = 0.0
    hz = os.sysconf("SC_CLK_TCK")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            comm_ok = False
            with open(f"/proc/{pid}/comm") as f:
                comm_ok = "java" in f.read()
            if comm_ok and int(parts[1]) == me:  # ppid
                total += (int(parts[11]) + int(parts[12])) / hz
        except (OSError, IndexError, ValueError):
            continue
    return total


def child(cpus: int, rows_m: int, out_path: str) -> None:
    from pyspark.sql import functions as F

    from chavinha_mini_search_engine_spark.session import get_spark

    spark = get_spark(f"boundary-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    n = rows_m * 1_000_000
    if not os.path.exists(DATA):
        (spark.range(n, numPartitions=16)
         .select(
             (F.xxhash64("id") % 50000).alias("tid"),
             (F.col("id") % 256).cast("int").alias("shard"),
             F.lit(0).cast("tinyint").alias("fidx"),
             (F.col("id") % 100000).alias("local_id"),
             (F.col("id") % 7 + 1).alias("tf"),
             (F.col("id") % 300 + 20).alias("dl"))
         .write.mode("overwrite").parquet(DATA))
    df = spark.read.parquet(DATA)
    res = {"cpus": cpus, "rows": n}
    for name in ("jvm_agg", "arrow_pass"):
        for attempt in ("warm", "meas"):
            c0, t0 = _jvm_cpu_sec(), time.time()
            if name == "jvm_agg":
                df.groupBy((F.col("tid") % 64).alias("k")).agg(
                    F.sum("tf"), F.max("local_id"), F.sum("dl")
                ).count()
            else:
                import pandas as pd

                def _count(batches):
                    t = 0
                    for b in batches:
                        t += len(b)
                    yield pd.DataFrame({"c": [t]})

                df.mapInPandas(_count, "c long").agg(F.sum("c")).collect()
            wall, cpu = time.time() - t0, _jvm_cpu_sec() - c0
            if attempt == "meas":
                res[name] = {"wall_s": round(wall, 1),
                             "jvm_cpu_s": round(cpu, 1),
                             "jvm_cpu_ns_per_row": round(cpu / n * 1e9, 1)}
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(res, f)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
        return
    rows_m = int(sys.argv[1]) if len(sys.argv) > 1 else 28
    for cpus in (4, 16):
        out = f"/tmp/boundary_{cpus}.json"
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus),
             str(rows_m), out],
            check=True, cwd=REPO,
        )
        with open(out) as f:
            print(json.dumps(json.load(f)), flush=True)


if __name__ == "__main__":
    main()
