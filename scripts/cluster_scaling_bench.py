"""Multi-JVM (standalone-cluster) N vs 4N scaling run.

Round-3 finding (BENCH_SCALING.md): with `local[N]` the composed 3.84M-page
build pair measured 0.702 efficiency, and elimination pointed at the ONE
shared JVM (shuffle service, GC, fork/commit) that local mode cannot split
-- the numpy kernels themselves scale linearly to 16 processes
(scripts/bandwidth_probe.py).  This script TESTS that hypothesis with real
multi-JVM executors: a local standalone cluster (master + worker daemons on
127.0.0.1, `spark://` URL) runs the SAME build at

  low  level: 1 worker  x 4 cores -> 1 executor JVM  (4 cores total)
  high level: 4 workers x 4 cores -> 4 executor JVMs (16 cores total)

so the high level gets 4 separate heaps / GCs / shuffle maps / fork
contexts -- exactly what a real 4-node cluster adds.  Per-core memory is
held constant (one 4-core executor = one fixed heap), matching cluster
semantics instead of local-mode's fixed shared heap.

efficiency = (T_1exec / T_4exec) / 4, target >= 0.8 (north rule).

Usage:
  python scripts/cluster_scaling_bench.py                 # full protocol
  SCALING_REPLICATE=24 python scripts/cluster_scaling_bench.py  # smaller
  python scripts/cluster_scaling_bench.py --child <master> <cores_total> \
      <replicate> <sf_dir> <out_json>                     # one driver run
"""

from __future__ import annotations

import datetime as dt
import json
import os
import signal
import socket
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLICATE = int(os.environ.get("SCALING_REPLICATE", "768"))
HTML_REPEAT = int(os.environ.get("SCALING_HTML_REPEAT", "8"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EMBED = os.environ.get("SCALING_EMBED", "0") != "0"  # protocol: embeddings OFF
EXEC_CORES = int(os.environ.get("SCALING_EXEC_CORES", "4"))
EXEC_MEM = os.environ.get("SCALING_EXEC_MEM", "10g")
MASTER_PORT = int(os.environ.get("SCALING_MASTER_PORT", "7077"))

_THREAD_PINS = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def _java() -> str:
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def _spark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", port)) == 0:
                return
        time.sleep(0.3)
    raise RuntimeError(f"port {port} never came up")


class Cluster:
    """A throwaway standalone cluster: 1 master + n_workers worker JVMs.

    Each daemon runs in its own session group so teardown can kill the
    whole tree (executors are children of their worker)."""

    def __init__(self, n_workers: int, cores_per_worker: int,
                 worker_mem: str, log_dir: str):
        self.procs: list = []
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        import pyspark

        # the worker's ExecutorRunner builds the executor JVM command via
        # AbstractCommandBuilder, which requires SPARK_HOME (the pip
        # pyspark dir has the jars/ layout it expects)
        env = {**os.environ, **_THREAD_PINS,
               "SPARK_HOME": os.path.dirname(pyspark.__file__),
               # pip-installed Spark has no launcher/target build dir, so
               # the executor command builder needs the scala version told
               "SPARK_SCALA_VERSION": "2.13",
               "PYSPARK_PYTHON": sys.executable,
               "SPARK_NO_DAEMONIZE": "1"}
        jars = _spark_jars()
        self._spawn(
            [_java(), "-Xmx1g", "-cp", jars,
             "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", str(MASTER_PORT),
             "--webui-port", "8099"],
            env, "master.log",
        )
        _wait_port(MASTER_PORT)
        self.url = f"spark://127.0.0.1:{MASTER_PORT}"
        for i in range(n_workers):
            self._spawn(
                [_java(), "-Xmx1g", "-cp", jars,
                 "org.apache.spark.deploy.worker.Worker",
                 "--host", "127.0.0.1", "--port", str(21000 + i),
                 "--webui-port", str(8200 + i),
                 "--cores", str(cores_per_worker), "--memory", worker_mem,
                 "--work-dir", os.path.join(log_dir, f"work{i}"),
                 self.url],
                env, f"worker{i}.log",
            )
        # give workers a moment to register
        time.sleep(4)

    def _spawn(self, cmd, env, log_name) -> None:
        log = open(os.path.join(self.log_dir, log_name), "w")
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=log,
                             start_new_session=True)
        self.procs.append(p)

    def stop(self) -> None:
        for p in reversed(self.procs):
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        t0 = time.time()
        for p in self.procs:
            try:
                p.wait(timeout=max(0.1, 10 - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        self.procs = []


def child(master_url: str, cores_total: int, replicate: int,
          sf_dir: str, out_path: str) -> None:
    """One measured driver run against an already-running cluster.
    Workload identical to scripts/scaling_bench.py child (same input,
    same IndexConfig) -- only the execution topology
    differs."""
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

    spark = get_spark(
        f"cluster-scaling-{cores_total}", master=master_url,
        shuffle_partitions=cores_total * 2,
        extra_conf={
            "spark.cores.max": str(cores_total),
            "spark.executor.cores": str(EXEC_CORES),
            "spark.executor.memory": EXEC_MEM,
            "spark.pyspark.python": sys.executable,
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.executorEnv.MKL_NUM_THREADS": "1",
            "spark.executorEnv.NUMEXPR_NUM_THREADS": "1",
            "spark.executor.extraJavaOptions":
                "-Djdk.lang.Process.launchMechanism=POSIX_SPAWN",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    reps = spark.range(replicate).repartition(cores_total * 3).select(
        F.col("id").alias("rep")
    )
    big = reps.join(F.broadcast(docs)).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
        "lang", "source", "n_chars",
    )
    pages = pages_from_documents(big, html_repeat=HTML_REPEAT)
    n_pages = n_docs * replicate
    idx = tempfile.mkdtemp(prefix=f"cscale_{cores_total}_")
    cfg = IndexConfig(num_doc_shards=256, shard_groups=1, term_buckets=64,
                      encode_buckets=8)
    t = time.time()
    store = IndexStore(os.path.join(idx, "i"), build_id="s")
    build_index(spark, pages, store, cfg, with_embeddings=EMBED,
                verify_text_invariant=False)
    wall = time.time() - t
    stage_walls = {}
    for st, v in store.manifest["stages"].items():
        w = v.get("metrics", {}).get("wall_sec")
        if w is None:
            w = sum(p["metrics"].get("wall_sec", 0) for p in v.get("parts", {}).values())
        stage_walls[st] = round(w, 1)
    shutil.rmtree(idx, ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump({"cores_total": cores_total, "n_pages": n_pages,
                   "wall_sec": wall, "docs_per_sec": n_pages / wall,
                   "stage_walls": stage_walls}, f)
    spark.stop()


def run_level(n_workers: int, out: str) -> dict:
    cores_total = n_workers * EXEC_CORES
    log_dir = f"/tmp/cluster_{n_workers}w_{int(time.time())}"
    cl = Cluster(n_workers, EXEC_CORES, EXEC_MEM, log_dir)
    try:
        print(f"cluster up ({n_workers} worker JVMs x {EXEC_CORES} cores), "
              f"running driver ...", flush=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", cl.url,
             str(cores_total), str(REPLICATE), SF_DIR, out],
            check=True, cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "8g"},
        )
    finally:
        cl.stop()
    with open(out) as f:
        return json.load(f)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
              sys.argv[5], sys.argv[6])
        return
    rounds = int(os.environ.get("SCALING_ROUNDS", "1"))
    runs: dict = {1: [], 4: []}
    for _ in range(rounds):
        for n_workers in (1, 4):
            r = run_level(n_workers, f"/tmp/cscaling_{n_workers}.json")
            runs[n_workers].append(r)
            print(json.dumps(r), flush=True)
    res = {k: min(v, key=lambda r: r["wall_sec"]) for k, v in runs.items()}
    t1, t4 = res[1]["wall_sec"], res[4]["wall_sec"]
    eff = (t1 / t4) / 4.0
    summary = {
        "workload": f"full index build, {res[1]['n_pages']} pages "
                    f"(documents {SF_DIR} x{REPLICATE}"
                    f"{', embeddings OFF' if not EMBED else ''}), "
                    f"STANDALONE CLUSTER: 1 vs 4 executor JVMs x "
                    f"{EXEC_CORES} cores, {EXEC_MEM}/executor",
        "runs_per_level": rounds,
        "topology": {"low": f"1 executor x {EXEC_CORES} cores",
                     "high": f"4 executors x {EXEC_CORES} cores"},
        "all_walls": {str(k): [round(r["wall_sec"], 1) for r in v]
                      for k, v in runs.items()},
        "stage_walls": {str(k): res[k]["stage_walls"] for k in res},
        "exec1_wall_sec": round(t1, 1),
        "exec1_docs_per_sec": round(res[1]["docs_per_sec"], 1),
        "exec4_wall_sec": round(t4, 1),
        "exec4_docs_per_sec": round(res[4]["docs_per_sec"], 1),
        "speedup_N_to_4N": round(t1 / t4, 3),
        "scaling_efficiency": round(eff, 3),
        "target": ">= 0.8",
        "ts": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    print(json.dumps(summary))
    with open(os.path.join(REPO, "BENCH_SCALING.md"), "a") as f:
        f.write("```json\n" + json.dumps(summary, indent=2) + "\n```\n\n")


if __name__ == "__main__":
    main()
