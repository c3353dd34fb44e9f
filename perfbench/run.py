"""Benchmark of index publish, warm HTTP serving and delta ingest.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Prints one JSON object as its last stdout
line: ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` the per-layer ones.  See ``perfbench/README.md``.

Work files go to ``.perfbench_work/`` under the repository root.  The
index that ``serve_http_warm`` serves is built once per checkout into
``.perfbench_work/cache/`` (its corpus does not depend on the seed; an
entry made from other sources is removed); every other file is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
PKG = "chavinha_mini_search_engine_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("publish_ingest", "serve_http_warm")
BASE_PAGES, BASE_SEED = 300, 0     # seed-independent, served warm
PUB_PAGES = 100                    # seeded corpus built by publish_ingest
# shard_groups <= num_doc_shards: an empty postings shard-group makes
# build_index raise ArrowInvalid (README, "Known fault")
NUM_DOC_SHARDS, SHARD_GROUPS = 2, 2
# stream_index_deltas reads 4 files per micro-batch
PAGES_PER_FILE, FILES_PER_BATCH = 5, 4
DELTA_BATCHES = 2                  # streamed by publish_ingest and traced runs
COLD_QUERIES = 400
HTTP_RATE = 50.0                   # requests per second, fixed
LIMIT = 10
SETUP_REPEATS = 7                  # the first one also pays for imports
CHECK_QUERIES = 12
SEARCH_TYPES = ("bm25", "hybrid", "semantic")
WARM_QUERIES = 900                 # in-process replay of the HTTP stream



def declared_units() -> dict:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["end_to_end"] + bench["per_layer"]}


# ---------------------------------------------------------------- processes

def _proc_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return int(rest[3])  # session id
    except (OSError, IndexError, ValueError):
        return None


def session_pids(sid: int) -> list:
    return [p for p in os.listdir("/proc")
            if p.isdigit() and _proc_stat(p) == sid]


def session_pss_mb(sid: int) -> float:
    """Resident memory of a session's processes, with the pages they share
    (the forked Python workers' copy-on-write pages) counted once: the sum
    of their proportional set sizes."""
    total = 0
    for p in session_pids(sid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            pass
    return total / 1024


def reap_session(sid: int, grace: float = 10.0) -> None:
    """Wait for every process of the child's session (the JVM and Python
    workers included) to end; TERM then KILL what is left."""
    deadline = time.time() + grace
    sig = signal.SIGTERM
    while session_pids(sid):
        if time.time() > deadline:
            sig = signal.SIGKILL
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            pass
        time.sleep(0.2)


class Child:
    """A phase process in its own session, with logs in the run dir."""

    def __init__(self, run, mode: str, spec: dict, interactive=False):
        self.out = os.path.join(run.dir, f"{mode}.out.json")
        spec_path = os.path.join(run.dir, f"{mode}.spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        self.log = open(os.path.join(run.dir, f"{mode}.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "phases.py"), mode,
             spec_path, self.out],
            env=run.env, cwd=ROOT, start_new_session=True,
            stdin=subprocess.PIPE if interactive else subprocess.DEVNULL,
            stdout=subprocess.PIPE if interactive else self.log,
            stderr=self.log, text=True,
        )
        self.mode = mode

    def expect(self, word: str, timeout: float) -> str:
        """Next stdout line, which must start with ``word``."""
        box = []
        t = threading.Thread(
            target=lambda: box.append(self.proc.stdout.readline()), daemon=True)
        t.start()
        t.join(timeout)
        line = box[0] if box else ""
        if not line.startswith(word):
            raise RuntimeError(f"{self.mode}: expected {word!r}, got {line!r}")
        return line.strip()

    def finish(self, timeout: float) -> dict:
        try:
            rc = self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            rc = None
        if rc != 0:
            raise RuntimeError(f"{self.mode} phase failed (rc={rc}); "
                               f"log: {self.log.name}")
        with open(self.out) as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        reap_session(self.proc.pid)
        self.log.close()


def run_spark(run, spec: dict) -> tuple:
    """(result, wall_s, peak process-tree PSS in MB) of a Spark phase.
    The memory sampler runs in traced runs only, once a second: reading
    ``smaps_rollup`` walks the JVM's page tables (~45 ms a sweep here),
    which at 10 samples a second slowed the build by a third."""
    child = Child(run, "spark", spec)
    peak = [0.0]
    stop = threading.Event()

    def sample():
        while not stop.is_set():
            peak[0] = max(peak[0], session_pss_mb(child.proc.pid))
            stop.wait(1.0)

    sampler = threading.Thread(target=sample)
    t0 = time.perf_counter()
    if spec["trace"]:
        sampler.start()
    try:
        out = child.finish(timeout=160)
        wall = time.perf_counter() - t0
    finally:
        stop.set()
        if sampler.is_alive():
            sampler.join()
        child.close()
    return out, wall, peak[0]


# ---------------------------------------------------------------- inputs

def make_inputs(run, workload: str) -> dict:
    """Seeded inputs of one run, written under ``run.dir/inputs``."""
    from perfbench import inputs

    d = os.path.join(run.dir, "inputs")
    shutil.rmtree(d, ignore_errors=True)
    if workload == "publish_ingest":
        corpus = inputs.generate_pages(PUB_PAGES, run.seed, "pub")
    else:
        corpus = inputs.generate_pages(BASE_PAGES, BASE_SEED, "base")
    # traced runs build and stream on every workload, so that every layer
    # reports on every workload; serve_http_warm builds its corpus into a
    # throwaway store and still serves the cached index
    n_batches = DELTA_BATCHES if workload == "publish_ingest" or run.trace \
        else 0
    deltas = inputs.generate_pages(
        n_batches * FILES_PER_BATCH * PAGES_PER_FILE, run.seed, "delta")
    inp = {"corpus": corpus, "deltas": deltas, "pages_dir": None,
           "deltas_dir": None}
    if workload == "publish_ingest" or run.trace:
        inp["pages_dir"] = os.path.join(d, "pages")
        inputs.write_pages(corpus, inp["pages_dir"])
    if deltas:
        inp["deltas_dir"] = os.path.join(d, "deltas")
        inputs.write_pages(deltas, inp["deltas_dir"],
                           n_files=n_batches * FILES_PER_BATCH)
    bands = inputs.df_bands([p["text"] for p in corpus if p["lang"] == "en"])
    inp["bands"] = bands
    inp["cold"] = inputs.first_touch_queries(bands, COLD_QUERIES, run.seed)
    inp["schedule"] = inputs.http_schedule(
        int(HTTP_RATE * run.seconds), HTTP_RATE, run.seed)
    # the warm pass is the same seeded query stream, WARM_QUERIES long
    # whatever --seconds is
    inp["warm"] = [(q, st) for _due, q, st in inputs.http_schedule(
        WARM_QUERIES, HTTP_RATE, run.seed)]
    return inp


def _cache_key() -> str:
    """Changes whenever the generator, the sizes or the package do."""
    h = hashlib.sha1(f"{BASE_PAGES}/{BASE_SEED}/{NUM_DOC_SHARDS}/"
                     f"{SHARD_GROUPS}".encode())
    for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    h.update(f.read())
    with open(os.path.join(HERE, "inputs.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def base_index(run) -> str:
    """The cached base index, built on first use in this checkout.  Entries
    of other keys (older package or generator sources) are removed."""
    from perfbench import inputs

    cache = os.path.join(WORK, "cache")
    name = f"base-{_cache_key()}"
    if os.path.isdir(cache):
        for old in os.listdir(cache):
            if old != name:
                shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    final = os.path.join(cache, name)
    if os.path.exists(os.path.join(final, "manifest.json")):
        return final
    t = time.perf_counter()
    tmp = os.path.join(run.dir, "base-build")
    pages = os.path.join(tmp, "pages")
    inputs.write_pages(inputs.generate_pages(BASE_PAGES, BASE_SEED, "base"),
                       pages)
    run_spark(run, run.spark_spec(pages=pages, trace=False,
                                  store=os.path.join(tmp, "store")))
    os.makedirs(os.path.dirname(final), exist_ok=True)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(os.path.join(tmp, "store"), final)
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: built the cached base index in "
          f"{time.perf_counter() - t:.1f} s (not part of setup_s)",
          file=sys.stderr)
    return final


# ---------------------------------------------------------------- the run

class Run:
    def __init__(self, args):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.env = dict(os.environ)
        self.env.update({
            "PYTHONPATH": ROOT, "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "spark-local"),
            "TMPDIR": self.tmp,
        })

    def spark_spec(self, **kw) -> dict:
        spec = {"cpus": self.cpus, "trace": self.trace, "tmp": self.tmp,
                "num_doc_shards": NUM_DOC_SHARDS,
                "shard_groups": SHARD_GROUPS, "build_id": "perfbench",
                "checkpoint": os.path.join(self.dir, "checkpoint"),
                "event_log": os.path.join(self.dir, "eventlog")}
        spec.update(kw)
        return spec

    def execute(self) -> dict:
        w = self.workload
        # the cached index serve_http_warm serves; its one-time build in a
        # checkout is not set-up of this run and is timed on stderr only
        store = base_index(self) if w == "serve_http_warm" else \
            os.path.join(self.dir, "store")
        # --- set-up: the seeded inputs, SETUP_REPEATS times, median
        gen = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            inp = make_inputs(self, w)
            gen.append(time.perf_counter() - t)
        setup_s = statistics.median(gen)

        # --- publish: Spark build and delta stream (on serve_http_warm,
        # traced runs only, into a store that is not served), then a
        # searcher over the served store
        spark_out, spark_wall, peak_rss = {}, 0.0, 0.0
        build_store = None
        if inp["pages_dir"]:
            build_store = os.path.join(self.dir, "store")
            spark_out, spark_wall, peak_rss = run_spark(self, self.spark_spec(
                pages=inp["pages_dir"], deltas=inp["deltas_dir"],
                store=build_store))
            print(f"perfbench spark phase: wall={spark_wall:.2f}s " + ", ".join(
                f"{k}={v:.2f}" for k, v in spark_out.items()
                if isinstance(v, float)), file=sys.stderr)
            # let the kernel write back the new index before serving is
            # timed, so the serve phase does not share the disk and CPU
            # with the writeback of the Spark phase's output
            os.sync()
        serve = Child(self, "serve", {
            "store": store, "trace": self.trace,
            "cold": inp["cold"], "limit": LIMIT,
            "warm": inp["warm"]},
            interactive=True)
        try:
            t = time.perf_counter()
            serve.expect("STARTED", 60)
            startup_s = time.perf_counter() - t
            port = int(serve.expect("READY", 180).split()[1])
            client = Child(self, "client", {
                "port": port, "schedule": inp["schedule"], "limit": LIMIT,
                "threads": self.cpus})
            try:
                http = client.finish(timeout=self.seconds + 90)
            finally:
                client.close()
            serve.proc.stdin.write("STOP\n")
            serve.proc.stdin.flush()
            served = serve.finish(timeout=60)
        finally:
            serve.close()

        reqs = http["requests"]
        warm = {st: [ms for ms, (_q, typ) in zip(served["warm_ms"],
                                                 inp["warm"]) if typ == st]
                for st in SEARCH_TYPES}
        e2e = {
            "setup_s": setup_s,
            # Spark phase + serving-process start-up + a searcher load
            "publish_s": spark_wall + startup_s + statistics.median(
                served["load_s"]),
            "serve_rss_mb": served["rss_mb"],
        }
        # a load and per-query latencies move 20-40% between runs on a
        # shared host, more than an end-to-end bound allows: per-layer only
        latency = {
            "load_s": statistics.median(served["load_s"]),
            "cold_p50_ms": statistics.median(served["cold_ms"]),
            **{f"warm_{st}_p50_ms": statistics.median(warm[st])
               for st in SEARCH_TYPES},
        }
        failed = sum(1 for r in reqs if r["status"] != 200)
        n_ops = (len(served["cold_ms"]) + len(served["warm_ms"]) + len(reqs)
                 + (1 if spark_out.get("build_s") is not None else 0)
                 + len(spark_out.get("batches", [])))
        problems = self.check(inp, store, build_store, served, http,
                              spark_out)
        for p in problems[:20]:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        if self.trace:
            metrics = self.layer_metrics(latency, store, build_store, inp,
                                         spark_out, peak_rss, served, http)
        else:
            metrics = e2e
        print(f"perfbench {w} seed={self.seed}: " + ", ".join(
            f"{k}={v:.4g}" for k, v in {**e2e, **latency}.items()),
            file=sys.stderr)
        units = declared_units()
        return {
            "correct": not problems,
            "attempted": n_ops,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }

    # ------------------------------------------------------------ checks

    def check(self, inp, store, build_store, served, http, spark_out) -> list:
        """``store`` is the served index; ``build_store`` the one the Spark
        phase built and streamed into (``None`` if it did not run)."""
        from perfbench import checks

        problems = []
        if len(served["cold_ms"]) != len(inp["cold"]):
            problems.append("first-touch pass incomplete")
        bad_shape = [i for i, r in enumerate(http["requests"])
                     if r["status"] == 200 and not r["shape_ok"]]
        if bad_shape:
            problems.append(f"{len(bad_shape)} HTTP responses with more than "
                            f"{LIMIT} results, rising relevance or a "
                            "repeated parent id")
        corpus, deltas = inp["corpus"], inp["deltas"]
        served_deltas = deltas if build_store == store else []
        if spark_out.get("batches") is not None and len(
                spark_out["batches"]) != len(deltas) // (
                FILES_PER_BATCH * PAGES_PER_FILE):
            problems.append(f"{len(spark_out['batches'])} micro-batches ran")
        base_docs = checks.oracle_docs(corpus)
        if served_deltas:
            oracle = checks.BaseStatsOracle(
                base_docs + checks.oracle_docs(served_deltas, embed=False),
                base_docs)
            reference = checks.OracleIndex(base_docs)
        else:
            oracle = reference = checks.OracleIndex(base_docs)
        docs_table = os.path.join(store, "docs")
        problems += [f"extracted text differs for {u}" for u in
                     checks.extraction_mismatches(corpus, docs_table, self.seed)]
        terms = [w for band in ("high", "mid", "low") for w in
                 checks.sample(inp["bands"][band], 8, self.seed, band)]
        problems += [f"term_dict df {m}" for m in
                     checks.df_mismatches(store, reference, terms)]
        for i in checks.sample(range(len(inp["cold"])), CHECK_QUERIES,
                                       self.seed, "check-cold"):
            q, st = inp["cold"][i]
            m = checks.topk_mismatch(oracle, q, st, LIMIT,
                                     served["cold_hits"][i])
            if m:
                problems.append(f"first-touch top-k {m}")
        keys = sorted(http["first_hits"])
        for key in checks.sample(keys, CHECK_QUERIES, self.seed,
                                         "check-http"):
            st, q = key.split("\t", 1)
            m = checks.topk_mismatch(oracle, q, st, LIMIT,
                                     http["first_hits"][key])
            if m:
                problems.append(f"HTTP top-k {m}")
        if deltas:
            from chavinha_mini_search_engine_spark.sources.tables import IndexStore

            parts = IndexStore(build_store).committed_parts("unified_delta")
            problems += [
                f"extracted text differs for streamed {u}" for u in
                checks.extraction_mismatches(
                    deltas, os.path.join(build_store, "unified_delta"),
                    self.seed, part_dirs=parts)]
            ids = [hashlib.md5(p["url"].encode()).hexdigest()
                   for p in deltas if p["lang"] == "en"]
            problems += [f"streamed doc {i} not present exactly once" for i in
                         checks.id_multiplicity_errors(build_store, parts, ids)]
        return problems

    # ------------------------------------------------------------ layers

    def layer_metrics(self, latency, store, build_store, inp, spark_out,
                      peak_rss, served, http) -> dict:
        """Build, stream and table-size metrics come from ``build_store``;
        load, query, cache and HTTP metrics from the served ``store``."""
        from perfbench import tracing

        m = {"spark.session_start_s": spark_out["session_start_s"]}
        with open(os.path.join(build_store, "manifest.json")) as f:
            manifest = json.load(f)
        stages = manifest["stages"]
        build_s = spark_out["build_s"]
        m["index_build.build_s"] = build_s
        spans = []
        for s in tracing.BUILD_STAGES:
            st = stages[s]
            m[f"index_build.{s}_s"] = st["finished_ts"] - st["started_ts"]
            spans.append((st["started_ts"], st["finished_ts"]))
        covered, end = 0.0, -1e300
        for a, b in sorted(spans):  # union of the (overlapping) stage spans
            if b > end:
                covered += b - max(a, end)
                end = b
        m["index_build.between_stages_s"] = build_s - covered
        bspans = spark_out["trace"]["spans"]
        stream_t0 = min((s[3] for s in bspans if s[5] and str(
            s[5].get("part") or "").startswith("delta=")), default=float("inf"))

        def write_s(table):
            return sum(s[4] - s[3] for s in bspans if s[2] == "tables.write"
                       and s[5]["table"] == table and s[3] < stream_t0)

        m["index_build.stats.tf_write_s"] = write_s("tf")
        m["index_build.stats.doclens_s"] = write_s("doclens")
        m["index_build.stats.corpus_stats_s"] = sum(
            s[4] - s[3] for s in bspans if s[2] == "index_build.corpus_stats")
        m["index_build.stats.term_dict_s"] = write_s("term_dict")
        m.update(tracing.event_log_metrics(self.spark_spec()["event_log"]))
        parts = stages["postings"]["parts"]
        m["index_build.postings.count"] = sum(
            p["metrics"].get("postings", 0) for k, p in parts.items()
            if k.startswith("grp="))
        m["index_build.postings.blocks"] = sum(
            p["metrics"].get("blocks", 0) for k, p in parts.items()
            if k.startswith("grp="))
        m["index_build.peak_rss_mb"] = peak_rss

        n_pages = len(inp["corpus"]) + len(inp["deltas"])
        sizes = {}
        for table in os.listdir(build_store):
            base = os.path.join(build_store, table)
            if os.path.isdir(base) and "__tmp" not in table:
                sizes[table] = sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _d, fs in os.walk(base) for f in fs
                    if f.endswith(".parquet") and "__tmp" not in r)
        m["tables.index_bytes_per_page"] = sum(sizes.values()) / n_pages
        for table in ("postings", "unified", "attributes", "tf", "docs",
                      "chunks"):
            m[f"tables.{table}_bytes_per_page"] = sizes.get(table, 0) / n_pages

        batches = spark_out["batches"]
        m["streaming.delta_batch_s"] = statistics.median(
            b["trigger_ms"] for b in batches) / 1e3
        m["streaming.trigger_ms"] = statistics.median(
            b["trigger_ms"] for b in batches)
        m["streaming.add_batch_ms"] = statistics.median(
            b["add_batch_ms"] for b in batches)
        m["streaming.rows_per_batch"] = statistics.median(
            b["rows"] for b in batches)
        per_batch = {}
        plan_ms = sum((s[4] - s[3]) * 1e3 for s in bspans
                      if s[2] == "index_build.build_postings_for"
                      and s[3] >= stream_t0) / max(len(batches), 1)
        for s in bspans:
            if s[2] == "tables.write" and s[3] >= stream_t0:
                pb = per_batch.setdefault(s[5]["part"], [plan_ms, 0.0])
                pb[0 if s[5]["table"] == "postings" else 1] += (s[4] - s[3]) * 1e3
        m["index_build.build_postings_for_ms"] = statistics.median(
            v[0] for v in per_batch.values())
        m["tables.write_ms"] = statistics.median(
            v[1] for v in per_batch.values())

        sspans = served["trace"]["spans"]
        selft = tracing.self_times(sspans)
        loads = [s for s in sspans if s[2] == "serve.load"]
        for name, key in (("serve.load.fused_state", "fused_state_s"),
                          ("serve.load.post_groups", "post_groups_s")):
            m[f"serve.load.{key}"] = statistics.median(
                sum(c[4] - c[3] for c in sspans
                    if c[1] == ld[0] and c[2] == name) for ld in loads)
        m["serve.load.other_s"] = statistics.median(selft[ld[0]] for ld in loads)
        m["serve.load.segments"] = served["segments"]
        m.update(tracing.query_layer_metrics(sspans))
        counters = served["trace"]["counters"]
        hits = counters.get("postings_cache.hits", 0)
        misses = counters.get("postings_cache.misses", 0)
        m["search.postings_cache.hits"] = hits
        m["search.postings_cache.misses"] = misses
        # share of (field, term) list reads that found the list already
        # decoded earlier in the run; the first-touch pass must add none
        m["search.postings_cache.hit_share"] = hits / max(hits + misses, 1)
        first = served["first_touch_counters"]
        f_hits = first.get("postings_cache.hits", 0)
        f_all = f_hits + first.get("postings_cache.misses", 0)
        m["search.postings_cache.first_touch_hits"] = f_hits
        # the same share over the warm pass and the HTTP requests only
        m["search.postings_cache.warm_hit_share"] = (hits - f_hits) / max(
            hits + misses - f_all, 1)
        m["tables.postings_served"], m["tables.doc_store_row_groups"] = \
            served_sizes(store)

        ok = [r for r in http["requests"] if r["status"] == 200]
        m["http_api.server_ms"] = statistics.median(r["server_ms"] for r in ok)
        m["http_api.transport_ms"] = statistics.median(
            r["client_ms"] - r["server_ms"] for r in ok)
        m["http_api.generator_lag_ms"] = statistics.median(
            r["lag_ms"] for r in ok)
        for st in SEARCH_TYPES:
            m[f"http_api.{st}_p50_ms"] = statistics.median(
                r["latency_ms"] for r in ok if r["type"] == st)
        m["http_api.p95_ms"] = statistics.quantiles(
            [r["latency_ms"] for r in ok], n=20)[18]
        m["http_api.requests"] = len(http["requests"])
        m["serve.load_s"] = latency["load_s"]
        m.update({f"search.{k}": v for k, v in latency.items()
                  if k != "load_s"})
        return m


def served_sizes(store: str) -> tuple:
    """(postings in all committed postings parts, parquet row groups in
    the doc store: unified plus committed unified_delta parts)."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    st = IndexStore(store)
    postings = sum(
        pads.dataset(st.path("postings", p), format="parquet",
                     partitioning="hive").to_table(columns=["n"])
        .column("n").to_numpy().sum()
        for p in st.committed_parts("postings"))
    roots = [st.path("unified")] + [
        st.path("unified_delta", p)
        for p in st.committed_parts("unified_delta")]
    groups = sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_row_groups
                 for root in roots for r, _d, fs in os.walk(root)
                 for f in fs if f.endswith(".parquet"))
    return int(postings), groups


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ under {ROOT}; run from the repository "
              "root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        result = run.execute()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
