"""The benchmark's child processes, one per phase:

    python3 perfbench/phases.py spark  SPEC.json OUT.json
    python3 perfbench/phases.py serve  SPEC.json OUT.json
    python3 perfbench/phases.py client SPEC.json OUT.json

``spark`` builds an index and/or streams delta pages into it, then stops
Spark; its process exits before serving starts, so the serve phase runs
with no Spark JVM alive.  ``serve`` loads a ``ResidentSearcher``, runs the
first-touch query pass and then the warm pass in process, serves HTTP until
a line arrives on stdin, reports its own RSS, then times one more load.  ``client`` is the single load-generator process: an
open loop with at most ``threads`` requests in flight.

``run.py`` starts these with ``PYTHONPATH`` set to the checkout root.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


def _vm_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def spark_phase(spec: dict) -> dict:
    from perfbench.tracing import Tracer, install_build

    tracer = Tracer() if spec["trace"] else None
    if tracer:
        install_build(tracer)
    from chavinha_mini_search_engine_spark.config import IndexConfig
    from chavinha_mini_search_engine_spark.operators.index_build import build_index
    from chavinha_mini_search_engine_spark.session import get_spark
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore
    from chavinha_mini_search_engine_spark.streaming.incremental import (
        stream_index_deltas,
    )

    conf = {
        # keep the JVM's temporary files inside the work dir
        "spark.driver.extraJavaOptions":
            "-Djdk.lang.Process.launchMechanism=POSIX_SPAWN "
            f"-Djava.io.tmpdir={spec['tmp']} -XX:-UsePerfData",
    }
    if tracer:
        os.makedirs(spec["event_log"], exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = spec["event_log"]
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    out = {}
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{spec['cpus']}]",
                      shuffle_partitions=spec["cpus"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    out["session_start_s"] = time.perf_counter() - t
    cfg = IndexConfig(num_doc_shards=spec["num_doc_shards"],
                      shard_groups=spec["shard_groups"])
    try:
        if spec.get("pages"):
            store = IndexStore(spec["store"], build_id=spec["build_id"])
            t = time.perf_counter()
            build_index(spark, spark.read.parquet(spec["pages"]), store, cfg)
            out["build_s"] = time.perf_counter() - t
        if spec.get("deltas"):
            store = IndexStore(spec["store"])
            t = time.perf_counter()
            q = stream_index_deltas(spark, spec["deltas"], store, cfg,
                                    checkpoint_dir=spec["checkpoint"])
            q.awaitTermination()
            out["stream_s"] = time.perf_counter() - t
            out["batches"] = [
                {"trigger_ms": p["durationMs"].get("triggerExecution", 0),
                 "add_batch_ms": p["durationMs"].get("addBatch", 0),
                 "rows": p["numInputRows"]}
                for p in q.recentProgress if p["numInputRows"] > 0
            ]
    finally:
        spark.stop()
    if tracer:
        out["trace"] = tracer.dump()
    return out


def serve_phase(spec: dict) -> dict:
    from perfbench.tracing import Tracer, install_serve

    tracer = Tracer() if spec["trace"] else None
    if tracer:
        install_serve(tracer)
    from chavinha_mini_search_engine_spark.http_api import ResidentHTTPServer
    from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    if tracer:
        tracer.patch(ResidentSearcher, "__init__", "serve.load")
    store = IndexStore(spec["store"])
    print("STARTED", flush=True)
    t = time.perf_counter()
    rs = ResidentSearcher(store)
    loads = [time.perf_counter() - t]
    cold_ms, cold_hits = [], []
    for q, st in spec["cold"]:
        t = time.perf_counter()
        hits = rs.search(q, st, spec["limit"])
        cold_ms.append((time.perf_counter() - t) * 1e3)
        cold_hits.append([(h["id"], h["relevance"]) for h in hits])
    first_touch = dict(tracer.counters) if tracer else {}
    warm_ms = []
    for q, st in spec["warm"]:
        t = time.perf_counter()
        rs.search(q, st, spec["limit"])
        warm_ms.append((time.perf_counter() - t) * 1e3)
    srv = ResidentHTTPServer(store, searcher=rs).start()
    try:
        print(f"READY {srv.port}", flush=True)
        sys.stdin.readline()
        rss = _vm_rss_mb()
    finally:
        srv.stop()
    # one more load after serving, so load_s is a median of two loads
    # while the measured server ran in a process that loaded once
    rs = srv = None
    t = time.perf_counter()
    ResidentSearcher(store)
    loads.append(time.perf_counter() - t)
    out = {"load_s": loads, "cold_ms": cold_ms, "cold_hits": cold_hits,
           "warm_ms": warm_ms, "rss_mb": rss,
           "segments": len(store.committed_parts("postings"))}
    if tracer:
        out["trace"] = tracer.dump()
        out["first_touch_counters"] = first_touch
    return out


def client_phase(spec: dict) -> dict:
    """Open loop: request i is due at start + schedule[i][0]; its latency
    is measured from that due time, so a stall also charges the requests
    queued behind it.  At most ``threads`` requests are in flight."""
    import http.client
    import queue
    from urllib.parse import urlencode

    sched, limit = spec["schedule"], spec["limit"]
    n = len(sched)
    rec = [None] * n
    first_hits = {}
    lock = threading.Lock()
    due_q: "queue.Queue" = queue.Queue()
    start = time.perf_counter() + 0.2

    def dispatch():
        for i, (due, _q, _st) in enumerate(sched):
            delay = start + due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            due_q.put(i)
        for _ in range(spec["threads"]):
            due_q.put(None)

    def worker():
        while True:
            i = due_q.get()
            if i is None:
                return
            due, q, st = sched[i]
            path = "/api/search?" + urlencode(
                {"q": q, "search_type": st, "limit": limit})
            sent = time.perf_counter()
            status, body = 0, None
            try:
                conn = http.client.HTTPConnection("127.0.0.1", spec["port"],
                                                  timeout=60)
                try:
                    conn.request("GET", path)
                    resp = conn.getresponse()
                    status, raw = resp.status, resp.read()
                finally:
                    conn.close()
                body = json.loads(raw)
            except (OSError, ValueError, http.client.HTTPException):
                pass
            done = time.perf_counter()
            shape_ok = False
            server_ms = None
            if status == 200 and body is not None:
                res = body.get("results", [])
                rel = [r["relevance"] for r in res]
                ids = [r["id"] for r in res]
                shape_ok = (len(res) <= limit
                            and all(a >= b for a, b in zip(rel, rel[1:]))
                            and len(set(ids)) == len(ids))
                server_ms = body.get("search_time_ms")
                with lock:
                    first_hits.setdefault(
                        f"{st}\t{q}", [[r["id"], r["relevance"]] for r in res])
            rec[i] = {
                "type": st, "status": status, "shape_ok": shape_ok,
                "latency_ms": (done - (start + due)) * 1e3,
                "lag_ms": (sent - (start + due)) * 1e3,
                "client_ms": (done - sent) * 1e3,
                "server_ms": server_ms,
            }

    threads = [threading.Thread(target=worker) for _ in range(spec["threads"])]
    for t in threads:
        t.start()
    disp = threading.Thread(target=dispatch)
    disp.start()
    disp.join()
    for t in threads:
        t.join()
    return {"requests": rec, "first_hits": first_hits,
            "wall_s": time.perf_counter() - start}


PHASES = {"spark": spark_phase, "serve": serve_phase, "client": client_phase}

if __name__ == "__main__":
    mode, spec_path, out_path = sys.argv[1:4]
    with open(spec_path) as f:
        spec = json.load(f)
    result = PHASES[mode](spec)
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, out_path)
