"""The benchmark's workloads.  Each takes a :class:`Ctx` (session, tracer,
counters) and returns ``(end_to_end, per_layer)`` metric dicts.

Sizes are set so that one run, Spark start-up included, takes under a
minute on a quiet 4-core host; README.md relates them to the reference
configuration of 200k vectors.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback

import numpy as np

import gen
from runtime import SparkPhases, peak_rss_mb
from tracing import Tracer

# 32 bands x 12 rows: ~2^-12 chance that a random vector shares a band
# bucket, so candidates stay a small share of the corpus. The library's
# 16 x 8 default (256 buckets per band) would pull ~7% of the corpus
# into every query whatever the data looks like.
LSH = dict(num_perm=384, num_bands=32, rows_per_band=12, seed=42)
K = 10
SCORE_TOL = 1e-5

# serve_online runs at least two passes over its pool: 200 requests, so
# that p95 has 10 samples beyond it
SERVE_N, SERVE_POOL = 10_000, 100
BATCH_N, BATCH_Q, BATCH_WARMUP, BATCH_WARM = 10_000, 500, 4, 3
INGEST_BASE, INGEST_BATCH, INGEST_POOL = 10_000, 5_000, 100
APPENDS_PER_CYCLE, MAX_CYCLES = 2, 4
DELETES_PER_ROUND = 50
SELF_READS, DELETED_READS, FRESH_READS = 20, 10, 55
EQUALITY_SAMPLE = 16
STORE_DELETES = 50

now = time.perf_counter


class Ctx:
    def __init__(self, spark, run_dir: str, seed: int, seconds: float,
                 trace: bool, t_start: float, session_s: float):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.phases = SparkPhases(spark)
        self.t_start = t_start
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0

    def mark(self, label: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"perfbench: {now() - self.t_start:7.2f}s {label}",
              file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def outcome(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed one is logged (first few)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 10:
                print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def call(self, what: str, fn, *args, **kw):
        """Run one program call; an exception counts as a failed op and
        yields ``None``."""
        try:
            return fn(*args, **kw)
        except Exception:
            self.outcome(False, f"{what} raised")
            traceback.print_exc(file=sys.stderr)
            return None

    def spark_counters(self, out: dict) -> None:
        for phase in PHASES:
            for k, v in self.phases.counters(phase).items():
                out[f"spark.{phase}.{k}"] = v


PHASES = ("build_save", "query_batch", "store_append", "store_delete",
          "store_compact")


# ------------------------------------------------------------ helpers
def make_inputs(ctx: Ctx, *sizes: int) -> dict:
    """Generate the run's inputs in a child process (``gen.py``'s
    command line: corpus size, query count, and for the ingest workload
    batch count and size) and read them back.  The generator's and the
    ground truth's memory thus never counts in ``peak_rss_mb``."""
    out = ctx.path("inputs")
    subprocess.run([sys.executable, gen.__file__, out, str(ctx.seed),
                    *map(str, sizes)], check=True)
    return gen.load_inputs(out, n_batches=sizes[2] if len(sizes) > 2 else 0)


def untraced(i: int) -> bool:
    """Traced runs time every other call with tracing paused, so that
    ``trace.overhead_pct`` compares traced and untraced calls of one run."""
    return i % 2 == 1


def overhead_pct(calls) -> float:
    """``calls``: ``(kind, seconds)`` per timed call, in call order.  Per
    kind, the median traced call over the median untraced one (see
    ``untraced``), minus one; the mean over kinds, in percent."""
    kinds: dict = {}
    for i, (kind, sec) in enumerate(calls):
        kinds.setdefault(kind, ([], []))[untraced(i)].append(sec)
    return 100.0 * float(np.mean([med(tr) / med(pl) - 1.0
                                  for tr, pl in kinds.values()
                                  if tr and pl]))


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


def med(xs) -> float:
    return float(np.median(np.asarray(xs, dtype=np.float64)))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def recall(got, truth) -> float:
    return len(set(int(i) for i in got) & set(int(t) for t in truth)) / K


def check_topk_ids(ids, n_ids: int) -> bool:
    return (len(ids) <= K and len(set(ids)) == len(ids)
            and all(0 <= i < n_ids for i in ids))


def check_scored(pairs, qvec, vectors) -> bool:
    """``[(id, score)]``: at most K rows, scores equal NumPy cosine
    within SCORE_TOL, ordered by (score desc, id asc)."""
    if not 1 <= len(pairs) <= K:
        return False
    ids = np.array([p[0] for p in pairs], dtype=np.int64)
    scores = np.array([p[1] for p in pairs], dtype=np.float64)
    if len(set(ids.tolist())) != len(ids) or ids.min() < 0 \
            or ids.max() >= len(vectors):
        return False
    exact = gen.unit64(vectors[ids]) @ gen.unit64(qvec)
    if not np.all(np.abs(scores - exact) <= SCORE_TOL):
        return False
    for a in range(len(pairs) - 1):
        (i0, s0), (i1, s1) = pairs[a], pairs[a + 1]
        if s0 < s1 or (s0 == s1 and i0 > i1):
            return False
    return True


def zero_layers() -> dict:
    return {name: 0 for name, _ in LAYER_METRICS}


def finish(ctx: Ctx, e2e: dict, layer: dict) -> tuple[dict, dict]:
    py_mb, jvm_mb = peak_rss_mb(ctx.spark)
    e2e["peak_rss_mb"] = py_mb + jvm_mb
    print(f"perfbench: peak RSS MB: Python {py_mb:.0f}, JVM {jvm_mb:.0f}",
          file=sys.stderr)
    layer["session.start_s"] = ctx.session_s
    ctx.spark_counters(layer)
    return e2e, layer


def spark_layers(ctx: Ctx, lsh, files: dict, truth, n_corpus: int,
                 n_results: int, idx_path: str, layer: dict) -> None:
    """Traced runs only: time each Spark-side layer's public call on its
    own, forced through a noop sink, after the timed phase."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lshrs_spark.hashing import with_signatures
    from lshrs_spark.operators.index import build_index, write_index
    from lshrs_spark.operators.probe import candidates, rerank, top_p_cutoff

    spark, tr, cfg = ctx.spark, ctx.tracer, lsh.cfg
    corpus_df = spark.read.parquet(files["corpus"])
    qdf = spark.read.parquet(files["queries"])

    def noop(df, name):
        t = now()
        with ctx.phases.phase("decompose"), tr.span(name):
            df.write.format("noop").mode("overwrite").save()
        return now() - t

    layer["index.entries"] = sum(pq.ParquetFile(f).metadata.num_rows
                                 for f in parquet_files(idx_path))
    layer["index.files"] = len(parquet_files(idx_path))
    layer["index.bytes"] = dir_bytes(idx_path)
    t_sig = noop(with_signatures(corpus_df, cfg, "embedding"),
                 "hashing.with_signatures")
    layer["hashing.sig_rows_per_s"] = n_corpus / t_sig
    layer["index.build_s"] = noop(build_index(corpus_df, cfg),
                                  "index.build_index")
    t = now()
    with ctx.phases.phase("decompose"), tr.span("index.write_index"):
        write_index(build_index(corpus_df, cfg), ctx.path("decomposed"))
    layer["index.write_s"] = now() - t - layer["index.build_s"]
    qsigs = build_index(qdf, cfg, "qid", "qvec").withColumnRenamed(
        "id", "qid")
    cands = candidates(lsh.index_df, qsigs)
    layer["probe.join_s"] = noop(cands, "probe.candidates")
    qv = qdf.select(F.col("qid").cast("long"), F.col("qvec"))
    full = noop(top_p_cutoff(rerank(cands, corpus_df, qv), 1.0, K),
                "probe.rerank_top_p")
    layer["probe.rerank_s"] = full - layer["probe.join_s"]
    with ctx.phases.phase("decompose"):
        pairs = cands.select("qid", "id").toPandas()
    layer["probe.candidate_rows"] = len(pairs)
    layer["probe.candidates_per_result"] = len(pairs) / max(1, n_results)
    cand_sets = pairs.groupby("qid")["id"].apply(set).to_dict()
    layer["probe.candidate_recall"] = float(np.mean([
        len(cand_sets.get(q, set()) & set(truth[q].tolist())) / K
        for q in range(len(truth))]))


def check_server_matches_batch(ctx: Ctx, rows, srv, queries,
                               n_queries: int) -> None:
    """``IndexServer.get_top_k`` must equal ``LSHRS.query_batch(top_k)``
    (``rows``, collision order) on a seeded sample; both order by
    (-collisions, id)."""
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
        by_q.setdefault(int(r.qid), []).append(int(r.id))
    for q in sorted(int(x) for x in ctx.rng(2).choice(
            n_queries, EQUALITY_SAMPLE, replace=False)):
        ctx.outcome(by_q.get(q, []) == srv.get_top_k(queries[q], K),
                    f"get_top_k == query_batch for query {q}")


def store_layers(ctx: Ctx, files: dict, cfg, layer: dict) -> None:
    """Traced batch runs: the store's public calls once each on the
    batch corpus, written as two segments, with one tombstone file."""
    from pyspark.sql import functions as F

    from lshrs_spark.operators.index import build_index
    from lshrs_spark.store import SegmentedIndexStore

    spark, tr = ctx.spark, ctx.tracer
    corpus = spark.read.parquet(files["corpus"])
    root = ctx.path("store")
    store = SegmentedIndexStore.create(spark, root)
    appends = []
    for part in (F.col("vec_id") < BATCH_N // 2,
                 F.col("vec_id") >= BATCH_N // 2):
        t = now()
        with ctx.phases.phase("store_append"), tr.span("store.append"):
            store.append(build_index(corpus.where(part), cfg))
        appends.append(now() - t)
    dels = ctx.rng(4).choice(BATCH_N, STORE_DELETES, replace=False)
    t = now()
    with ctx.phases.phase("store_delete"), tr.span("store.delete"):
        store.delete_ids([int(x) for x in dels])
    layer["store.delete_s"] = now() - t
    m = store.manifest()
    layer["store.segments"] = len(m["segments"])
    layer["store.tombstones"] = len(m["tombstones"])
    t = now()
    with ctx.phases.phase("store_compact"), tr.span("store.compact"):
        store.compact()
        store.prune(keep_versions=1)
    layer["store.compact_s"] = now() - t
    layer["store.append_s"] = med(appends)
    layer["store.bytes"] = dir_bytes(root)


# ------------------------------------------------------- serve_online
def serve_online(ctx: Ctx):
    """One closed-loop client against ``IndexServer``: a seeded 50/50
    mix of ``get_top_k`` and reranked ``query``.  Requests walk the
    query pool in seeded passes; a seeded half of the pool is reranked
    on even passes and the other half on odd ones, so the first two
    passes issue every pool query once in each mode."""
    from lshrs_spark.core import LSHRS
    from lshrs_spark.hashing import hash_vectors_local_long
    from lshrs_spark.serving import IndexServer

    spark, tr = ctx.spark, ctx.tracer
    data = make_inputs(ctx, SERVE_N, SERVE_POOL)
    corpus, queries, truth = data["corpus"], data["queries"], data["truth"]
    idx_dir = ctx.path("index")
    layer = zero_layers()

    t_w = now()
    with ctx.phases.phase("build_save"):
        with tr.span("core.index_dataframe"):
            lsh = LSHRS(spark, gen.DIM, **LSH)
            lsh.index_dataframe(spark.read.parquet(data["files"]["corpus"]))
        t = now()
        with tr.span("core.save"):
            lsh.save_to_disk(idx_dir, include_vectors=True)
        layer["core.save_s"] = now() - t
    build_s = now() - t_w
    t = now()
    with tr.span("serving.open"):
        srv = IndexServer.from_saved(idx_dir)
    layer["serving.open_s"] = now() - t
    probe_id = int(ctx.rng(0).integers(SERVE_N))
    first = ctx.call("first read", srv.get_top_k, corpus[probe_id], K)
    visible_s = now() - t_w
    ctx.outcome(first is not None and probe_id in first,
                "indexed id visible to a fresh server")
    setup_s = now() - ctx.t_start
    ctx.mark("set-up done")

    # ---- timed phase: one closed-loop client
    rng = ctx.rng(1)
    half = np.zeros(SERVE_POOL, dtype=bool)
    half[rng.permutation(SERVE_POOL)[:SERVE_POOL // 2]] = True
    lat, responses = [], []
    sig_us, probe_ms, n_cands, rerank_ms = [], [], [], []
    t0 = now()
    i = 0
    while now() - t0 < ctx.seconds or i < 2 * SERVE_POOL:
        if i % SERVE_POOL == 0:
            order = rng.permutation(SERVE_POOL)
        q = int(order[i % SERVE_POOL])
        reranked = bool(half[q] ^ ((i // SERVE_POOL) % 2 == 1))
        vec = queries[q]
        tr.request = i
        name = "serving.query" if reranked else "serving.get_top_k"
        with tr.paused(untraced(i)), tr.span("request"):
            if tr.enabled:
                with tr.span("hashing.query_sig"):
                    t = now()
                    hash_vectors_local_long(vec[None, :], lsh.cfg)
                    sig_us.append((now() - t) * 1e6)
                with tr.span("serving.candidate_counts"):
                    t = now()
                    ids, _ = srv.candidate_counts(vec)
                    probe_ms.append((now() - t) * 1e3)
                    n_cands.append(len(ids))
            t = now()
            with tr.span(name):
                if reranked:
                    res = ctx.call(name, srv.query, vec, top_k=K, top_p=1.0)
                else:
                    res = ctx.call(name, srv.get_top_k, vec, K)
            dt = now() - t
            if reranked and tr.enabled:
                # query() minus candidate_counts() called just before it
                rerank_ms.append(dt * 1e3 - probe_ms[-1])
        lat.append(dt)
        responses.append((q, reranked, res))
        i += 1
    wall = now() - t0
    tr.request = None
    ctx.mark("timed phase done")

    # ---- output checks: every response; recall over the pool from the
    # first two passes, so it repeats exactly for a seed
    topk_first: dict[int, list] = {}
    scored: dict[int, list] = {}
    for q, reranked, res in responses:
        if res is None:
            continue
        if reranked:
            if ctx.outcome(check_scored(res, queries[q], corpus),
                           f"reranked query {q}"):
                scored.setdefault(q, [p[0] for p in res])
        else:
            prev = topk_first.setdefault(q, res)
            ctx.outcome(check_topk_ids(res, SERVE_N) and res == prev,
                        f"get_top_k {q}")
    rec = [recall(scored.get(q, []), truth[q]) for q in range(SERVE_POOL)]

    idx_path = os.path.join(idx_dir, "index.parquet")
    e2e = {
        "setup_s": setup_s,
        "query_p50_ms": pct(lat, 50) * 1e3,
        "query_p95_ms": pct(lat, 95) * 1e3,
        "queries_per_s": len(lat) / wall,
        "recall_at_10": float(np.mean(rec)),
        "index_vectors_per_s": SERVE_N / build_s,
        "visible_p50_s": visible_s,
        "bytes_per_vector": dir_bytes(idx_path) / SERVE_N,
    }
    layer["index.files"] = layer["serving.fragments"] = len(
        parquet_files(idx_path))
    if tr.enabled:
        layer.update({
            "trace.overhead_pct": overhead_pct(
                [(r[1], dt) for r, dt in zip(responses, lat)]),
            "hashing.query_sig_us": med(sig_us),
            "serving.probe_p50_ms": pct(probe_ms, 50),
            "serving.probe_p95_ms": pct(probe_ms, 95),
            "serving.candidates": med(n_cands),
            "serving.rerank_ms": med(rerank_ms),
        })
    by_mode = [[dt * 1e3 for r, dt in zip(responses, lat) if r[1] == m]
               for m in (False, True)]
    print(f"perfbench: serve_online {len(lat)} requests in {wall:.2f}s; "
          f"p50/p95 ms: get_top_k {pct(by_mode[0], 50):.1f}/"
          f"{pct(by_mode[0], 95):.1f} ({len(by_mode[0])}), query "
          f"{pct(by_mode[1], 50):.1f}/{pct(by_mode[1], 95):.1f} "
          f"({len(by_mode[1])})", file=sys.stderr)
    return finish(ctx, e2e, layer)


# -------------------------------------------------- batch_index_probe
def batch_index_probe(ctx: Ctx):
    """Spark batch path in a fresh session: bulk build + save, then
    ``query_batch`` over the whole query batch, collected.  The build
    and the first query run cold, as in a nightly job: that query is the
    plain top-10 (collision order), and it gives ``visible_p50_s`` and
    the rows the server is checked against.  The reranked top-10
    (``top_p=1.0``) then runs back to back: BATCH_WARMUP untimed calls,
    then timed calls for ``--seconds``, at least BATCH_WARM of them.  The
    timed calls give the query metrics: a cold or barely warm call varies
    too much from run to run, and repeating the whole job would not fit
    the benchmark's time budget (see README.md)."""
    from lshrs_spark.core import LSHRS
    from lshrs_spark.serving import IndexServer

    spark, tr = ctx.spark, ctx.tracer
    data = make_inputs(ctx, BATCH_N, BATCH_Q)
    corpus, queries, truth = data["corpus"], data["queries"], data["truth"]
    files = data["files"]
    layer = zero_layers()

    idx_dir = ctx.path("index")
    setup_s = now() - ctx.t_start
    ctx.mark("set-up done")

    def query_batch(**kw):
        qdf = spark.read.parquet(files["queries"])
        with ctx.phases.phase("query_batch"), tr.span("core.query_batch"):
            return lsh.query_batch(qdf, top_k=K, **kw).collect()

    # ---- timed phase
    t0 = now()
    with ctx.phases.phase("build_save"):
        with tr.span("core.index_dataframe"):
            lsh = LSHRS(spark, gen.DIM, **LSH)
            lsh.index_dataframe(spark.read.parquet(files["corpus"]))
        t = now()
        with tr.span("core.save"):
            lsh.save_to_disk(idx_dir)
        layer["core.save_s"] = now() - t
    build_s = now() - t0
    plain = query_batch()
    visible_s = now() - t0
    # warm-up: each call spends seconds of JIT compile time on other
    # cores, less with every call, so a fixed number of calls (not a
    # fixed time, which would leave slower runs less warm) goes first
    warmup = [query_batch(top_p=1.0) for _ in range(BATCH_WARMUP)]
    calls = []
    t_m = now()
    while len(calls) < BATCH_WARM or now() - t_m < ctx.seconds:
        tr.request = len(calls)
        with tr.paused(untraced(len(calls))):
            t = now()
            rows = query_batch(top_p=1.0)
            calls.append((now() - t, rows))
    tr.request = None
    query_s = [c[0] for c in calls]
    layer["core.query_batch_s"] = med(query_s)
    if tr.enabled:
        layer["trace.overhead_pct"] = overhead_pct(
            [("query_batch", sec) for sec in query_s])
    ctx.mark(f"timed phase done; {len(warmup)} warm-up calls, then "
             "reranked query_batch calls (s): " +
             " ".join(f"{sec:.2f}" for sec in query_s))

    # ---- output checks: at most K rows per qid ranked 1..n, scores
    # equal NumPy cosine and sorted; every reranked call returns the
    # same ranked ids; the server agrees with the plain query_batch
    def ranked(rows) -> list:
        return sorted((r.qid, r.rank, r.id) for r in rows)

    rows = warmup[0]
    for i, again in enumerate(warmup[1:] + [c[1] for c in calls], 1):
        ctx.outcome(ranked(again) == ranked(rows),
                    f"reranked query_batch call {i} repeats call 0")
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(int(r.qid), []).append(
            (int(r.rank), int(r.id), float(r.score)))
    rec, n_results = [], 0
    for q in range(BATCH_Q):
        got = sorted(per_q.get(q, []))
        ranks_ok = [g[0] for g in got] == list(range(1, len(got) + 1))
        pairs = [(g[1], g[2]) for g in got]
        ctx.outcome(ranks_ok and check_scored(pairs, queries[q], corpus),
                    f"batch query {q}")
        rec.append(recall([p[0] for p in pairs], truth[q]))
        n_results += len(pairs)
    plain_ranks: dict[int, list] = {}
    for r in plain:
        plain_ranks.setdefault(int(r.qid), []).append(int(r.rank))
    ctx.outcome(all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= K
                    for v in plain_ranks.values()),
                "plain query_batch: at most K rows per qid, ranked 1..n")
    check_server_matches_batch(ctx, plain, IndexServer.from_saved(idx_dir),
                               queries, BATCH_Q)
    ctx.mark("checks done")

    idx_path = os.path.join(idx_dir, "index.parquet")
    e2e = {
        "setup_s": setup_s,
        # wall time of each warm reranked query_batch call
        "query_p50_ms": pct(query_s, 50) * 1e3,
        "query_p95_ms": pct(query_s, 95) * 1e3,
        "queries_per_s": BATCH_Q / med(query_s),
        "recall_at_10": float(np.mean(rec)),
        "index_vectors_per_s": BATCH_N / build_s,
        # build start -> first (cold) batch results in hand
        "visible_p50_s": visible_s,
        "bytes_per_vector": dir_bytes(idx_path) / BATCH_N,
    }
    if tr.enabled:
        spark_layers(ctx, lsh, files, truth, BATCH_N, n_results, idx_path,
                     layer)
        store_layers(ctx, files, lsh.cfg, layer)
    return finish(ctx, e2e, layer)


# ------------------------------------------------------- ingest_mixed
def ingest_mixed(ctx: Ctx):
    """Writes beside reads on ``SegmentedIndexStore``: each round
    appends a batch, deletes a seeded sample, refreshes the server and
    issues closed-loop ``get_top_k`` reads; every APPENDS_PER_CYCLE
    appends the store is compacted and pruned.  Whole cycles run until
    the run's time is up."""
    from lshrs_spark.config import LSHConfig
    from lshrs_spark.operators.index import build_index
    from lshrs_spark.serving import SegmentedIndexServer
    from lshrs_spark.store import SegmentedIndexStore

    spark, tr = ctx.spark, ctx.tracer
    n_batches = APPENDS_PER_CYCLE * MAX_CYCLES
    data = make_inputs(ctx, INGEST_BASE, INGEST_POOL, n_batches,
                       INGEST_BATCH)
    vectors = np.concatenate([data["corpus"]] + data["batches"])
    unit = gen.unit64(vectors)
    queries = data["queries"]
    files = data["files"]
    cfg = LSHConfig(dim=gen.DIM, **LSH)
    root = ctx.path("store")
    layer = zero_layers()
    live = np.zeros(len(vectors), dtype=bool)
    deleted = np.zeros(len(vectors), dtype=bool)

    def append(path):
        t = now()
        with ctx.phases.phase("store_append"), tr.span("store.append"):
            store.append(build_index(spark.read.parquet(path), cfg))
        return now() - t

    store = SegmentedIndexStore.create(spark, root)
    append(files["corpus"])
    live[:INGEST_BASE] = True
    with tr.span("serving.open"):
        t = now()
        srv = SegmentedIndexServer(root, cfg)
        layer["serving.open_s"] = now() - t
    setup_s = now() - ctx.t_start
    ctx.mark("set-up done")

    rng = ctx.rng(3)
    lat, visible, append_s, delete_s, compact_s, refresh_ms = \
        [], [], [], [], [], []
    probe_ms, n_cands, fresh_recall = [], [], []
    max_segments = max_tombstones = max_files = 0
    appended = 0
    reads = [0]

    def read(vec, what, must_have=None, must_lack=None):
        """One closed-loop read; checks it and returns its ids."""
        tr.request = reads[0]
        with tr.paused(untraced(reads[0])), tr.span("request"):
            if tr.enabled:
                with tr.span("serving.candidate_counts"):
                    t = now()
                    ids, _ = srv.candidate_counts(vec)
                    probe_ms.append((now() - t) * 1e3)
                    n_cands.append(len(ids))
            t = now()
            with tr.span("serving.get_top_k"):
                res = ctx.call(what, srv.get_top_k, vec, K)
            lat.append(now() - t)
        reads[0] += 1
        if res is None:
            return None
        ok = check_topk_ids(res, len(vectors)) and not deleted[res].any()
        if must_have is not None:
            ok = ok and must_have in res
        if must_lack is not None:
            ok = ok and must_lack not in res
        ctx.outcome(ok, what)
        return res

    def served_files() -> int:
        return sum(len(parquet_files(os.path.join(root, s)))
                   for s in store.manifest()["segments"])

    def refresh():
        t = now()
        with tr.span("serving.refresh"):
            srv.refresh()
        refresh_ms.append((now() - t) * 1e3)

    t0 = now()
    batch = 0
    cycle = 0
    while cycle == 0 or (now() - t0 < ctx.seconds and cycle < MAX_CYCLES):
        for _ in range(APPENDS_PER_CYCLE):
            lo = INGEST_BASE + batch * INGEST_BATCH
            new_ids = np.arange(lo, lo + INGEST_BATCH)
            t_a = now()
            append_s.append(append(files["batches"][batch]))
            live[new_ids] = True
            appended += INGEST_BATCH
            batch += 1
            old = np.flatnonzero(live[:lo])
            dels = rng.choice(old, DELETES_PER_ROUND, replace=False)
            t_d = now()
            with ctx.phases.phase("store_delete"), tr.span("store.delete"):
                store.delete_ids([int(x) for x in dels])
            delete_s.append(now() - t_d)
            live[dels] = False
            deleted[dels] = True
            refresh()
            m = store.manifest()
            max_segments = max(max_segments, len(m["segments"]))
            max_tombstones = max(max_tombstones, len(m["tombstones"]))
            max_files = max(max_files, served_files())

            selfs = rng.choice(new_ids, SELF_READS, replace=False)
            gone = dels[:DELETED_READS]
            read(vectors[selfs[0]], f"appended id {selfs[0]} visible",
                 must_have=int(selfs[0]))
            visible.append(now() - t_a)
            read(vectors[gone[0]], f"deleted id {gone[0]} gone",
                 must_lack=int(gone[0]))
            visible.append(now() - t_d)
            for x in selfs[1:]:
                read(vectors[x], f"self-query {x}", must_have=int(x))
            for x in gone[1:]:
                read(vectors[x], f"deleted id {x}", must_lack=int(x))
            live_ids = np.flatnonzero(live)
            live_unit = unit[live_ids] if cycle == 0 else None
            for qi in rng.choice(INGEST_POOL, FRESH_READS, replace=False):
                res = read(queries[qi], f"fresh query {qi}")
                if live_unit is not None and res is not None:
                    # recall of the first cycle only, so that it repeats
                    # exactly for a seed whatever the host speed
                    sc = live_unit @ gen.unit64(queries[qi])
                    top = live_ids[np.lexsort((live_ids, -sc))[:K]]
                    fresh_recall.append(recall(res, top))
        t = now()
        with ctx.phases.phase("store_compact"), tr.span("store.compact"):
            store.compact()
            store.prune(keep_versions=1)
        compact_s.append(now() - t)
        refresh()
        # after compaction every live appended id is still served and
        # no tombstoned id comes back
        for x in rng.choice(np.flatnonzero(live[INGEST_BASE:]) + INGEST_BASE,
                            SELF_READS, replace=False):
            read(vectors[x], f"post-compaction self-query {x}",
                 must_have=int(x))
        for x in rng.choice(np.flatnonzero(deleted), DELETED_READS,
                            replace=False):
            read(vectors[x], f"post-compaction deleted id {x}",
                 must_lack=int(x))
        cycle += 1
    tr.request = None
    ctx.mark("timed phase done")
    writer_s = sum(append_s) + sum(delete_s) + sum(compact_s)
    read_s = sum(lat)
    store_bytes = dir_bytes(root)

    e2e = {
        "setup_s": setup_s,
        "query_p50_ms": pct(lat, 50) * 1e3,
        "query_p95_ms": pct(lat, 95) * 1e3,
        "queries_per_s": len(lat) / read_s,
        "recall_at_10": float(np.mean(fresh_recall)),
        "index_vectors_per_s": appended / writer_s,
        "visible_p50_s": med(visible),
        "bytes_per_vector": store_bytes / int(live.sum()),
    }
    layer.update({
        "store.append_s": med(append_s),
        "store.delete_s": med(delete_s),
        "store.compact_s": med(compact_s),
        "store.segments": max_segments,
        "store.tombstones": max_tombstones,
        "store.bytes": store_bytes,
        "serving.refresh_ms": med(refresh_ms),
        "serving.fragments": max_files,
    })
    if tr.enabled:
        layer.update({
            "trace.overhead_pct": overhead_pct([(0, dt) for dt in lat]),
            "serving.probe_p50_ms": pct(probe_ms, 50),
            "serving.probe_p95_ms": pct(probe_ms, 95),
            "serving.candidates": med(n_cands),
        })
    print(f"perfbench: ingest_mixed {cycle} cycles, {len(lat)} reads, "
          f"{len(visible)} visibility samples", file=sys.stderr)
    return finish(ctx, e2e, layer)


WORKLOADS = {
    "serve_online": serve_online,
    "batch_index_probe": batch_index_probe,
    "ingest_mixed": ingest_mixed,
}

# (name, unit) of every per-layer metric; layers a workload does not
# exercise report 0 there.
LAYER_METRICS = [
    ("session.start_s", "s"),
    ("hashing.query_sig_us", "us"),
    ("hashing.sig_rows_per_s", "1/s"),
    ("index.build_s", "s"),
    ("index.write_s", "s"),
    ("index.entries", "count"),
    ("index.files", "count"),
    ("index.bytes", "B"),
    ("probe.join_s", "s"),
    ("probe.rerank_s", "s"),
    ("probe.candidate_rows", "count"),
    ("probe.candidates_per_result", "ratio"),
    ("probe.candidate_recall", "ratio"),
    ("core.save_s", "s"),
    ("core.query_batch_s", "s"),
    ("serving.open_s", "s"),
    ("serving.probe_p50_ms", "ms"),
    ("serving.probe_p95_ms", "ms"),
    ("serving.candidates", "count"),
    ("serving.fragments", "count"),
    ("serving.rerank_ms", "ms"),
    ("serving.refresh_ms", "ms"),
    ("store.append_s", "s"),
    ("store.delete_s", "s"),
    ("store.compact_s", "s"),
    ("store.segments", "count"),
    ("store.tombstones", "count"),
    ("store.bytes", "B"),
] + [(f"spark.{p}.{c}", "count") for p in PHASES
     for c in ("jobs", "stages", "tasks", "failed_tasks")] + [
    ("trace.spans", "count"),
    ("trace.overhead_pct", "%"),
]
