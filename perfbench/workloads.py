"""The benchmark's workloads, their output checks and their metrics.

Every workload runs as a closed loop with one client in one
``local[nproc]`` session, through the public API only: ``build_index``,
``Index.load``, ``QueryParser.parse`` and ``Searcher.top_docs`` /
``search`` / ``search_batch``. Each first warms the Python workers with a
small build, then builds the seeded corpus from a cleared cache into a
fresh ``index_dir``, and serves the saved layout:

* ``serve_hot``: the default ``Searcher`` (256 MB cell cache), terms drawn
  from the top 200 by df, ``top_docs(q, k=10)``, after a warm-up.
* ``batch_distributed``: the same stream as a query log, sent as
  ``search_batch`` calls of 64 queries, one at a time, to
  ``Searcher(distributed=True)``, each preceded by a trivial Spark job.
"""

from __future__ import annotations

import ctypes
import gc
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

N_DOCS = 10_000
WARM_DOCS = 500            # docs of the untimed build that starts workers
BUILDS = 2                 # timed builds per run (the median counts)
K = 10                     # top-k of every query
STREAM_LEN = 4_000         # pre-generated queries per stream (cycled)
WARM_CHUNK = 100           # warm-up granularity (queries) ...
WARM_MAX = 3_000           # ... and its cap
QPS_WINDOW = 500           # queries per throughput window (median counts)
BATCH = 64                 # queries per search_batch call (query log)
CHECK_QUERIES = 48         # serve_hot queries re-run as a parity batch
HYDRATE_N = 5              # search().collect() calls per run
INPUT_REPEATS = 3          # input generations per run (the median counts)
CACHE_BYTES = 256 << 20    # the Searcher's default cell-cache budget

T0 = time.perf_counter()


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object | None = None
    attempted: int = 0
    failed: int = 0
    batches: int = 0           # search_batch calls, one job group each
    table: list = field(default_factory=list)   # (name, value, unit, n)
    layers: dict = field(default_factory=dict)  # per-layer metrics

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 10:
                print(f"check failed: {what}", file=sys.stderr)

    def log(self, what: str) -> None:
        print(f"perfbench: {what} at {time.perf_counter() - T0:.1f} s",
              file=sys.stderr, flush=True)

    def report(self, name, value, unit, n) -> None:
        self.table.append((name, value, unit, n))

    def tracing(self, on: bool) -> None:
        if self.tracer is not None:
            (self.tracer.install if on else self.tracer.uninstall)()

    def request(self, rid: str) -> None:
        """Tag the spans that follow with a request id."""
        if self.tracer is not None:
            self.tracer.request = rid

    def mark(self) -> int:
        return self.tracer.mark() if self.tracer is not None else 0


@dataclass
class Prepared:
    """What a workload keeps of its set-up: the corpus counts the checks
    need, the query stream, the built index and the set-up seconds."""
    n_docs: int
    n_tokens: int
    text_bytes: int
    queries: list
    idx: object
    index_dir: str
    build_s: float
    setup_s: float


# ------------------------------------------------------------------ helpers
def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def rss_mb() -> float:
    """Resident set of the driver process now (MB), after a collection and
    after freed heap has been handed back to the system."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS missing from /proc/self/status")


def median_ms(xs) -> float:
    return statistics.median(xs) * 1000.0


def p99_ms(xs) -> float:
    return statistics.quantiles(xs, n=100)[98] * 1000.0


def parse_fn():
    from montezuma_spark.search.parser import QueryParser

    qp = QueryParser(default_field="text", analyzer="simple")
    return lambda q: qp.parse(q) if isinstance(q, str) else q


# -------------------------------------------------------------- set-up
def make_inputs(run: Run):
    """Corpus parquet files (all docs, and the first WARM_DOCS for the
    warm-up build) + query stream, generated INPUT_REPEATS times (the
    median is the input step of setup_s). Only the counts and the queries
    leave this function; the generator's arrays are dropped here."""
    from perfbench.corpus import hot_stream, make_corpus

    times = []
    for _ in range(INPUT_REPEATS):
        t0 = time.perf_counter()
        corpus = make_corpus(N_DOCS, run.seed)
        pdf = corpus.pandas()
        pdf.to_parquet(os.path.join(run.work, "corpus.parquet"), index=False)
        pdf.iloc[:WARM_DOCS].to_parquet(
            os.path.join(run.work, "warm.parquet"), index=False)
        queries = hot_stream(corpus, run.seed).take(STREAM_LEN)
        times.append(time.perf_counter() - t0)
    run.report("corpus_docs", corpus.n_docs, "docs", 1)
    run.report("corpus_tokens", corpus.n_tokens, "tokens", 1)
    run.report("corpus_bytes", corpus.text_bytes, "B", 1)
    if run.tracer is not None:
        analysis_layer(run, corpus)
    counts = corpus.n_docs, corpus.n_tokens, corpus.text_bytes
    return counts, queries, statistics.median(times)


def build(run: Run, src: str, index_dir: str, n_docs: int, n_tokens):
    """build_index over a parquet file into a fresh dir, from a cleared
    cache; checks the report, and the stats against the generator's
    counts when ``n_tokens`` is given. Returns (index, wall seconds)."""
    from montezuma_spark.index import FieldConfig, IndexConfig, builder

    run.spark.catalog.clearCache()
    docs = run.spark.read.parquet(src)
    cfg = IndexConfig(fields=[FieldConfig("text", "text", "simple")],
                      key_col="url", shard_bits=10)
    t0 = time.perf_counter()
    idx = builder.build_index(run.spark, docs, cfg, index_dir=index_dir)
    wall = time.perf_counter() - t0
    rep = idx.build_report
    run.check(rep.get("segment_skipped") == 0
              and rep.get("segment_docs") == n_docs,
              f"build report {rep}")
    if n_tokens is not None:
        st = idx.stats.get("text", {})
        run.check(st.get("num_docs") == n_docs
                  and st.get("total_tokens") == n_tokens,
                  f"stats {st} vs {n_docs} docs / {n_tokens} tokens")
    return idx, wall


def prepare(run: Run, session_s: float) -> Prepared:
    """Inputs, the untimed warm-up build, and BUILDS timed builds, each
    into a fresh dir; the workload serves the last one."""
    run.tracing(True)
    (n_docs, n_tokens, text_bytes), queries, inputs_s = make_inputs(run)
    run.log("inputs")
    run.request("warm-build")
    t0 = time.perf_counter()
    build(run, os.path.join(run.work, "warm.parquet"),
          os.path.join(run.work, "warm-ix"), WARM_DOCS, None)
    warm_s = time.perf_counter() - t0
    run.log(f"warm-up build ({warm_s:.1f} s)")
    walls, layers = [], []
    for b in range(BUILDS):
        d = os.path.join(run.work, f"ix{b}")
        mark = run.mark()
        run.request(f"build-{b}")
        idx, wall = build(run, os.path.join(run.work, "corpus.parquet"), d,
                          n_docs, n_tokens)
        walls.append(wall)
        run.log(f"index build {b} ({wall:.1f} s)")
        if run.tracer is not None:
            layers.append(build_layers(run, idx, d, mark))
    if run.tracer is not None:
        run.layers.update({k: statistics.median(x[k] for x in layers)
                           for k in layers[0]})
    run.report("index_bytes", du(d), "B", 1)
    build_s = statistics.median(walls)
    return Prepared(n_docs, n_tokens, text_bytes, queries, idx, d, build_s,
                    session_s + inputs_s + warm_s + build_s)


def open_index(run: Run, p: Prepared, first, **searcher_kw):
    """Index.load + Searcher + one first call. Returns (the searcher,
    seconds)."""
    from montezuma_spark.index.builder import Index
    from montezuma_spark.search import Searcher

    run.request("open")
    t0 = time.perf_counter()
    searcher = Searcher(Index.load(run.spark, p.index_dir), **searcher_kw)
    first(searcher)
    return searcher, time.perf_counter() - t0


# ------------------------------------------------------------ local tier
def run_queries(run: Run, searcher, queries, start: int, seconds: float,
                parse, keep: int = 0):
    """Closed loop of parse + top_docs for ``seconds``; returns
    (latencies, the median queries/s over windows of QPS_WINDOW queries,
    next index, [(query, hits)] for the first ``keep``)."""
    lat, kept, rates = [], [], []
    i = start
    t_start = t_win = time.perf_counter()
    while True:
        q = queries[i % len(queries)]
        run.request(f"query-{i}")
        t0 = time.perf_counter()
        hits = searcher.top_docs(parse(q), k=K)
        t1 = time.perf_counter()
        lat.append(t1 - t0)
        if len(kept) < keep:
            kept.append((q, hits))
        i += 1
        if len(lat) % QPS_WINDOW == 0:
            rates.append(QPS_WINDOW / (t1 - t_win))
            t_win = t1
        if t1 - t_start >= seconds and rates:
            return lat, statistics.median(rates), i, kept


def warm_up(searcher, queries, parse) -> int:
    """Run the stream in chunks of WARM_CHUNK queries until the cell cache
    is warm: a chunk makes at most two point reads, or the cache holds half
    its budget. Returns the index of the first unused query."""
    i = 1  # queries[0] already ran when the searcher was opened
    while i < WARM_MAX:
        f0 = searcher._arrow_fetches
        for q in queries[i:i + WARM_CHUNK]:
            searcher.top_docs(parse(q), k=K)
        i += WARM_CHUNK
        if (searcher._arrow_fetches - f0 <= 2
                or searcher._cell_cache_size >= 0.5 * CACHE_BYTES):
            break
    return i


def hydrate(run: Run, searcher, queries, parse):
    """search(q).collect() for each query; checks keys against the
    generator and hits against top_docs. Returns the search() times, the
    collect() times and their sums."""
    from perfbench.corpus import url_of

    local_s, collect_s, total_s = [], [], []
    for i, q in enumerate(map(parse, queries)):
        run.request(f"hydrate-{i}")
        t0 = time.perf_counter()
        df = searcher.search(q, k=K)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        local_s.append(t1 - t0)
        collect_s.append(t2 - t1)
        total_s.append(t2 - t0)
        hits = searcher.top_docs(q, k=K)
        run.check(
            all(r["key"] == url_of(r["docid"]) for r in rows)
            and [(r["docid"], r["score"]) for r in rows] == list(hits),
            f"hydrated rows for {q}",
        )
    return local_s, collect_s, total_s


# ------------------------------------------------------ distributed tier
def _group_stats(sc, group: str | None) -> tuple[int, int]:
    """(tasks, failed tasks) over every stage of a job group's jobs."""
    st = sc.statusTracker()
    tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in (job.stageIds if job else ()):
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
    return tasks, failed


def new_batch_log() -> dict:
    return {"plan": [], "collect": [], "floor": [], "groups": []}


def run_batch(run: Run, dist, queries, parse, log: dict) -> list:
    """A trivial job (the Spark job floor), then one search_batch of
    ``queries`` under its own job group, parse included, collected.
    Checks that every qid has at most K rows in (score desc, docid asc)
    order; returns each query's [(docid, score)]."""
    sc = run.spark.sparkContext
    t0 = time.perf_counter()
    run.spark.range(1).count()
    log["floor"].append(time.perf_counter() - t0)
    group = f"perfbench-batch-{run.batches}"
    run.batches += 1
    run.request(group)
    sc.setJobGroup(group, "search_batch")
    t0 = time.perf_counter()
    df = dist.search_batch({str(i): parse(q) for i, q in enumerate(queries)},
                           k=K)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    sc.setJobGroup("perfbench", "benchmark")
    log["plan"].append(t1 - t0)
    log["collect"].append(t2 - t1)
    log["groups"].append(group)
    by_qid: dict = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    out = [by_qid.get(str(i), []) for i in range(len(queries))]
    for q, got in zip(queries, out):
        run.check(len(got) <= K and all(
            (a[1] > b[1]) or (a[1] == b[1] and a[0] < b[0])
            for a, b in zip(got, got[1:])),
            f"search_batch order for {q}: {got}")
    return out


def check_parity(run: Run, pairs) -> None:
    """pairs: (query, local top_docs hits, distributed hits). The two tiers
    are parity-tested, so ranks and scores must be identical."""
    for q, local, dist in pairs:
        run.check(list(local) == list(dist),
                  f"distributed parity for {q}: {dist[:3]} vs {local[:3]}")


# ------------------------------------------------------------------ layers
def build_layers(run: Run, idx, index_dir: str, since: int) -> dict:
    """index.* and codec.bytes_per_posting of the traced build whose spans
    start at ``since``."""
    rep = idx.build_report
    return {
        "index.build_self_s": run.tracer.self_times(since)["index.build"][0],
        "index.save_s": sum(run.tracer.durations("index.save", since)),
        "index.segment_cpu_s": rep["segment_millis"] / 1000.0,
        "index.segment_postings_per_cpu_s":
            rep["segment_postings_per_cpu_sec"],
        "index.checkpoint_bytes_share":
            du(os.path.join(index_dir, "segment_cells")) / du(index_dir),
        "codec.bytes_per_posting":
            du(os.path.join(index_dir, "postings")) / rep["segment_postings"],
    }


def analysis_layer(run: Run, corpus) -> None:
    from montezuma_spark.analysis import get_analyzer

    an = get_analyzer("simple")
    sample = corpus.texts[:2_000]
    t0 = time.perf_counter()
    n = sum(len(an.tokens(t)) for t in sample)
    run.layers["analysis.tokens_per_s"] = n / (time.perf_counter() - t0)


def query_layers(run: Run, since: int, nq: int, fetches: int,
                 cache_bytes: int) -> None:
    st = run.tracer.self_times(since)

    def ms(name):
        return st.get(name, (0.0, 0))[0] * 1000.0 / nq

    def calls(name):
        return st.get(name, (0.0, 0))[1] / nq

    run.layers.update({
        "parser.parse_ms": ms("parser.parse"),
        "searcher.self_ms": ms("searcher.top_docs"),
        "searcher.fetch_ratio": fetches / nq,
        "searcher.cache_mb": cache_bytes / 2**20,
        "kernel.rows_parse_ms": ms("kernel.rows_from_pandas"),
        "kernel.eval_self_ms": ms("kernel.eval_local"),
        "codec.decode_ms": ms("codec.decode"),
        "codec.decode_calls": calls("codec.decode"),
        "similarity.tf_norm_ms": ms("similarity.tf_norm"),
        "similarity.tf_norm_calls": calls("similarity.tf_norm"),
    })


def serving_layers(run: Run, hyd, log: dict) -> None:
    sc = run.spark.sparkContext
    groups = ["perfbench", None] + log["groups"]
    run.layers.update({
        "hydrate.local_ms": median_ms(hyd[0]),
        "hydrate.collect_ms": median_ms(hyd[1]),
        "searcher.batch_plan_ms": median_ms(log["plan"]),
        "spark.batch_collect_ms": median_ms(log["collect"]),
        "spark.job_floor_ms": median_ms(log["floor"]),
        "spark.tasks_per_batch": statistics.median(
            _group_stats(sc, g)[0] for g in log["groups"]),
        "spark.failed_tasks": sum(_group_stats(sc, g)[1] for g in groups),
    })


def local_check(run: Run, searcher, parse, queries) -> list:
    """``queries`` through top_docs on a local searcher, whose traced spans
    give the query-side layers; returns the hits."""
    f0 = searcher._arrow_fetches
    mark = run.mark()
    hits = []
    for i, q in enumerate(queries):
        run.request(f"local-{i}")
        hits.append(searcher.top_docs(parse(q), k=K))
    if run.tracer is not None:
        query_layers(run, mark, len(queries), searcher._arrow_fetches - f0,
                     searcher._cell_cache_size)
    return hits


# --------------------------------------------------------------- workloads
def serve_hot(run: Run, session_s: float) -> dict:
    """Set-up, warm-up, timed loop of top_docs(q, k=10), then hydration
    and distributed parity. Returns the end-to-end metrics."""
    from montezuma_spark.search import Searcher

    p = prepare(run, session_s)
    parse = parse_fn()
    queries = p.queries
    searcher, open_s = open_index(
        run, p, lambda s: s.top_docs(parse(queries[0]), k=K),
        cell_cache_bytes=CACHE_BYTES)
    run.request("warm-up")
    t0 = time.perf_counter()
    at = warm_up(searcher, queries, parse)
    warm_s = time.perf_counter() - t0
    run.log(f"open and warm-up ({at} queries)")
    hyd_q = queries[-HYDRATE_N:]

    def untraced_qps() -> float:
        nonlocal at
        run.tracing(False)
        _, qps_u, at, _ = run_queries(run, searcher, queries, at,
                                      run.seconds, parse)
        run.tracing(True)
        return qps_u

    # a traced run times untraced loops before and after the traced one,
    # so that a drift in host speed falls on both sides of the ratio
    qps_u = [untraced_qps()] if run.tracer is not None else []
    f0 = searcher._arrow_fetches
    mark = run.mark()
    lat, qps, at, kept = run_queries(run, searcher, queries, at,
                                     run.seconds, parse, CHECK_QUERIES)
    fetches = searcher._arrow_fetches - f0
    cache_bytes = searcher._cell_cache_size
    if run.tracer is not None:
        query_layers(run, mark, len(lat), fetches, cache_bytes)
        qps_u.append(untraced_qps())
        run.layers["trace.overhead_ratio"] = qps / statistics.mean(qps_u)
    del queries, p.queries
    rss = rss_mb()
    run.log("query loop")

    hyd = hydrate(run, searcher, hyd_q, parse)
    run.log("hydration")
    dist = Searcher(p.idx, distributed=True)
    log = new_batch_log()
    got = run_batch(run, dist, [q for q, _ in kept], parse, log)
    check_parity(run, [(q, h, g) for (q, h), g in zip(kept, got)])
    run.log("distributed parity")
    if run.tracer is not None:
        serving_layers(run, hyd, log)

    run.report("cell_cache_bytes", cache_bytes, "B", 1)
    run.report("fetches_per_query", fetches / len(lat), "ratio", len(lat))
    run.report("query_p50_ms", median_ms(lat), "ms", len(lat))
    run.report("query_p99_ms", p99_ms(lat), "ms", len(lat))
    run.report("hydrated_p50_ms", median_ms(hyd[2]), "ms", len(hyd[2]))
    return {  # name -> (value, sample count)
        "setup_s": (p.setup_s + open_s + warm_s, 1),
        "build_docs_per_s": (p.n_docs / p.build_s, BUILDS),
        "index_bytes_per_input_byte": (du(p.index_dir) / p.text_bytes, 1),
        "qps": (qps, len(lat)),
        "driver_rss_mb": (rss, 1),
    }


def batch_distributed(run: Run, session_s: float) -> dict:
    """Set-up, then search_batch calls of BATCH queries, one at a time, on
    Searcher(distributed=True) for the run's seconds; then parity of the
    first batch with a local searcher, and hydration."""
    from montezuma_spark.search import Searcher

    p = prepare(run, session_s)
    parse = parse_fn()
    queries = p.queries
    open_log = new_batch_log()
    dist, open_s = open_index(
        run, p, lambda s: run_batch(run, s, queries[:BATCH], parse, open_log),
        distributed=True)
    run.log("open")
    hyd_q = queries[-HYDRATE_N:]

    def batches(seconds: float, start: int):
        log = new_batch_log()
        kept, n = [], 0
        t_start = time.perf_counter()
        while True:
            chunk = [queries[(start + n + i) % len(queries)]
                     for i in range(BATCH)]
            got = run_batch(run, dist, chunk, parse, log)
            if not kept:
                kept = list(zip(chunk, got))
            n += BATCH
            if time.perf_counter() - t_start >= seconds:
                batch_s = [a + b for a, b in zip(log["plan"], log["collect"])]
                return log, kept, n, BATCH / statistics.median(batch_s)

    at = BATCH

    def untraced_qps() -> float:
        nonlocal at
        run.tracing(False)
        _, _, n_u, qps_u = batches(run.seconds, at)
        at += n_u
        run.tracing(True)
        return qps_u

    # untraced batches before and after the traced ones, as in serve_hot
    qps_u = [untraced_qps()] if run.tracer is not None else []
    log, kept, n, qps = batches(run.seconds, at)
    at += n
    if run.tracer is not None:
        qps_u.append(untraced_qps())
        run.layers["trace.overhead_ratio"] = qps / statistics.mean(qps_u)
    del queries, p.queries
    rss = rss_mb()
    run.log(f"batches ({len(log['plan'])})")

    local = Searcher(p.idx, cell_cache_bytes=CACHE_BYTES)
    hits = local_check(run, local, parse, [q for q, _ in kept])
    check_parity(run, [(q, h, g) for (q, g), h in zip(kept, hits)])
    hyd = hydrate(run, local, hyd_q, parse)
    run.log("parity and hydration")
    if run.tracer is not None:
        serving_layers(run, hyd, log)

    batch_s = [a + b for a, b in zip(log["plan"], log["collect"])]
    run.report("batch_p50_ms", median_ms(batch_s), "ms", len(batch_s))
    run.report("job_floor_p50_ms", median_ms(log["floor"]), "ms",
               len(log["floor"]))
    run.report("hydrated_p50_ms", median_ms(hyd[2]), "ms", len(hyd[2]))
    return {  # name -> (value, sample count)
        "setup_s": (p.setup_s + open_s, 1),
        "build_docs_per_s": (p.n_docs / p.build_s, BUILDS),
        "index_bytes_per_input_byte": (du(p.index_dir) / p.text_bytes, 1),
        "qps": (qps, n),
        "driver_rss_mb": (rss, 1),
    }


WORKLOADS = {"serve_hot": serve_hot, "batch_distributed": batch_distributed}
