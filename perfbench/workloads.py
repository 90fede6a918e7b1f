"""The two workloads. Each builds its seeded inputs (set-up, repeated and
timed as a median), warms up, measures a closed loop of 4 clients for
``ctx.seconds``, checks its outputs against ``oracle`` and fills
``ctx.e2e``; traced runs also fill ``ctx.layers``, partly from isolated
probe calls made after the measured window.

End-to-end metrics, per workload:

=================  ========================  ======================
metric             search_stored             search_serve
=================  ========================  ======================
query_p50_ms       uncached search of the    /pages latency over
                   stored postings           loopback HTTP
throughput_per_s   searches completed / s    /pages queries / s
stored_bytes_...   all tables jobs.py        index + catalog /
                   extract wrote / input     input documents
=================  ========================  ======================

A bulk ingest and a sync poll each take seconds, too few fit in a run for
a steady median: the ingest is search_stored's set-up, and the
``jobs.py sync`` shape runs only in its traced run (``_sync_probe``).
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import threading
import time
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq
from ocr_search_spark import api, pipeline, sync
from ocr_search_spark.operators import extract, maintenance, search, tokenize
from ocr_search_spark.schemas import DOCUMENTS
from pyspark.sql import functions as F

import harness
import oracle
from harness import median
from inputs import QueryStream, seeded_corpus

SKEW_THRESHOLD = 64  # jobs.py extract default: bigger docs take the span-split path
TOP_K = search.DEFAULT_MAX_RETURN
SETUP_REPEATS = 2  # input builds per run; setup_s takes their median

STORED_DOCS = 1_000
INGEST_BUCKETS = 8
SAMPLE_DOCS = 24  # golden-checked docs per ingest run, mega-docs included
SAMPLE_MEGA = 6

SERVE_DOCS = 1_000
MAX_CLIENTS = 4
BOOLEAN_EVERY = 10  # every 10th /pages query is mode=boolean
# closed loop before the window (JIT, Python workers, caches). Served
# queries keep getting faster for ~50 queries after set-up; stored searches
# are warmed by the two ingests before them
WARMUP_S = {"search_stored": 3.0, "search_serve": 8.0}
OPEN_LOOP_QPS = 2.0  # traced runs: about half the 4-client capacity
OPEN_LOOP_S = 8.0
PROBE_QUERIES = 6

SYNC_FILES = 24
SYNC_DOCS_PER_FILE = 8
SYNC_BUCKETS = 8
SYNC_POLLS = 2
MODIFY, ADD, DELETE = 2, 2, 2  # files per poll
READS_PER_POLL = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_builds(ctx, build) -> list[float]:
    """Run the input build ``build(i)`` SETUP_REPEATS times; its seconds."""
    out = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.build", op=f"setup{i}"):
            build(i)
        out.append(time.perf_counter() - t0)
    return out


def _read_query(ctx, postings_path: str, query: str, k: int = TOP_K):
    """The ``jobs.py search`` path: uncached read of a stored postings
    table, top-k search, collect. Returns (seconds, [(doc_id, score)])."""
    spark = ctx.spark
    t0 = time.perf_counter()
    with ctx.tracer.span("search.search"):
        posts = spark.read.parquet(postings_path)
        rows = search.search(spark, posts, query, max_return=k).collect()
    return time.perf_counter() - t0, [(r["doc_id"], r["score"]) for r in rows]


def _search_probes(ctx, postings, docs, queries) -> None:
    """Traced runs: the query path called directly, one query at a time."""
    spark, tr = ctx.spark, ctx.tracer
    tok_us, plan_ms, match_ms, jobs, stages, tasks = [], [], [], [], [], []
    for q in queries:
        t0 = time.perf_counter()
        for _ in range(200):
            tokenize.tokenize_text(q)
        tok_us.append((time.perf_counter() - t0) / 200 * 1e6)
        t0 = time.perf_counter()
        with tr.span("search.plan"):
            search.search(spark, postings, q, docs=docs)
        plan_ms.append((time.perf_counter() - t0) * 1e3)
        terms = list(tokenize.term_freq_dict(q))
        with tr.span("search.match_terms"), ctx.group("search") as work:
            t0 = time.perf_counter()
            search.match_terms(postings, terms, docs).collect()
            match_ms.append((time.perf_counter() - t0) * 1e3)
        jobs.append(work.jobs)
        stages.append(work.stages)
        tasks.append(work.tasks)
    ctx.notes.append(f"search Spark work per query (median): {median(jobs):g} jobs, "
                     f"{median(stages):g} stages, {median(tasks):g} tasks")
    ctx.layers.update({
        "tokenize.query_us": median(tok_us),
        "search.plan_ms": median(plan_ms),
        "search.match_terms_ms": median(match_ms),
        "search.spark_jobs_per_query": median(jobs),
        "search.tasks_per_query": median(tasks),
    })


# ---------------------------------------------------------------- ingest


def _ingest(ctx, src: str, out: str):
    """``jobs.py extract``: bucketed extraction job (arrow batches, salted
    repartition, span-split mega-docs), then the postings build. Returns
    the job summary, its Spark work and the two calls' seconds."""
    spark, tr = ctx.spark, ctx.tracer
    docs = spark.read.parquet(src).select("doc_id", "spans")
    t0 = time.perf_counter()
    with tr.span("pipeline.run_extraction_job"), ctx.group("pipeline") as job:
        summary = pipeline.run_extraction_job(
            spark, docs, out, n_buckets=INGEST_BUCKETS, impl="arrow",
            skew_threshold=SKEW_THRESHOLD, num_partitions=2 * ctx.cores,
        )
    t1 = time.perf_counter()
    with tr.span("pipeline.build_postings"), ctx.group("pipeline") as post:
        pipeline.build_postings(spark, out)
    t2 = time.perf_counter()
    work = harness.SparkWork(job.jobs + post.jobs, job.stages + post.stages, job.tasks + post.tasks)
    return summary, work, (t1 - t0, t2 - t1)


def _check_ingest_sample(ctx, src: str, out: str) -> None:
    """Span-sequence and postings equality against the golden oracle for a
    seeded sample of docs that includes mega-docs."""
    spark = ctx.spark
    docs = spark.read.parquet(src)
    size = F.size("spans")
    h = F.xxhash64("doc_id", F.lit(ctx.seed))
    mega = docs.where(size > SKEW_THRESHOLD).orderBy(h).limit(SAMPLE_MEGA)
    rest = docs.where(size <= SKEW_THRESHOLD).orderBy(h).limit(SAMPLE_DOCS - SAMPLE_MEGA)
    sample = {r["doc_id"]: r["spans"] for r in mega.unionByName(rest).collect()}
    ids = sorted(sample)
    ctx.count(len([d for d in ids if len(sample[d]) > SKEW_THRESHOLD]) > 0,
              "ingest sample holds no mega-doc")
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{out}/{pipeline.EXTRACTED_DIR}")
        .where(F.col("doc_id").isin(ids)).collect()
    }
    want_post: dict = {}
    for d in ids:
        want = oracle.expected_doc(d, sample[d])
        row = got.get(d)
        ok = row is not None and row["error"] is None and oracle.spans_as_dicts(row["spans"]) == want
        ctx.count(ok, f"extracted spans differ from golden for doc {d}")
        for term, tf in oracle.expected_terms(d, sample[d]).items():
            want_post[(term, d)] = tf
    got_post = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in spark.read.parquet(f"{out}/{pipeline.POSTINGS_DIR}")
        .where(F.col("doc_id").isin(ids)).collect()
    }
    ctx.count(got_post == want_post, "postings of the sample differ from golden")


def search_stored(ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    src = os.path.join(ctx.work, "documents")
    out = os.path.join(ctx.work, "warehouse")
    postings_path = f"{out}/{pipeline.POSTINGS_DIR}"
    corpus = seeded_corpus(spark, STORED_DOCS, ctx.seed).select("doc_id", "spans")
    ingests = []  # (docs/s, Spark work, (job s, postings s)) per build

    def build(i):
        # jobs.py extract on a fresh corpus: what every search here reads
        for path in (src, out):
            shutil.rmtree(path, ignore_errors=True)
        corpus.write.parquet(src)
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in harness.data_files(src))
        t0 = time.perf_counter()
        summary, work, calls = _ingest(ctx, src, out)
        ingests.append((n / (time.perf_counter() - t0), work, calls))
        ctx.count(summary["buckets_processed"] > 0, f"ingest {i}: no bucket committed")

    builds = _timed_builds(ctx, build)
    n_docs = sum(pq.ParquetFile(f).metadata.num_rows for f in harness.data_files(src))
    input_bytes = harness.tree_bytes(src)
    ctx.e2e["stored_bytes_per_input_byte"] = harness.tree_bytes(out) / input_bytes
    reads = []

    def ask(_mode, query):
        _, hits = _read_query(ctx, postings_path, query)
        reads.append((query, hits))  # list.append is atomic

    clients = min(MAX_CLIENTS, ctx.cores)
    t0 = time.perf_counter()
    with tr.span("warmup"):
        _closed_loop(ask, QueryStream(ctx.seed + 1), WARMUP_S["search_stored"], clients)
    ctx.setup_done(builds, time.perf_counter() - t0)
    with tr.span("closed_loop"):
        qps, lat = _closed_loop(ask, QueryStream(ctx.seed), ctx.seconds, clients)
    ctx.e2e["query_p50_ms"] = median(lat) * 1e3
    ctx.e2e["throughput_per_s"] = qps
    ctx.notes.append(
        f"closed loop, {clients} clients: n={len(lat)} p50={median(lat) * 1e3:.0f}ms "
        f"p90={harness.percentile(lat, 90) * 1e3:.0f}ms {qps:.2f} queries/s; "
        "ingests at " + " ".join(f"{r:.0f}" for r, _, _ in ingests) + " docs/s")

    # correctness: every read against the independent scorer, the sample
    # against golden, and no doc lost or failed
    terms = set().union(*(oracle.query_terms(q) for q, _ in reads))
    index = oracle.Index.from_rows(
        spark.read.parquet(postings_path)
        .where(F.col("term").isin(sorted(terms))).select("term", "doc_id", "tf").collect()
    )
    for q, hits in reads:
        ctx.count(hits == index.search(q, TOP_K), f"search {q!r} on stored postings")
    _check_ingest_sample(ctx, src, out)
    ext = spark.read.parquet(f"{out}/{pipeline.EXTRACTED_DIR}")
    stats = ext.agg(
        F.count("*").alias("docs"),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(F.when(F.size("spans") > SKEW_THRESHOLD, 1).otherwise(0)).alias("mega"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
    ).first()
    ctx.count(stats["docs"] == n_docs, f"extracted {stats['docs']} docs of {n_docs}")
    ctx.count(stats["errors"] == 0, f"{stats['errors']} extraction error rows")
    if not tr.enabled:
        return

    # traced: layer counts and each stage alone into a no-op sink
    documents = spark.read.parquet(src).select("doc_id", "spans")
    with tr.span("extract.extract_spans", op="probe"):
        t0 = time.perf_counter()
        _noop(extract.extract_spans(documents, impl="arrow", skew_threshold=SKEW_THRESHOLD,
                                    num_partitions=2 * ctx.cores))
        extract_s = time.perf_counter() - t0
    with tr.span("tokenize.term_postings", op="probe"):
        t0 = time.perf_counter()
        _noop(tokenize.term_postings(ext.select("doc_id", "spans")))
        postings_s = time.perf_counter() - t0
    doc_text = F.array_join(F.transform("spans", lambda s: s["text"]), " ")
    job_s = median([c[0] for _, _, c in ingests])
    build_s = median([c[1] for _, _, c in ingests])
    work = ingests[-1][1]
    ctx.notes.append(f"pipeline Spark work per ingest: {work.jobs} jobs, "
                     f"{work.stages} stages, {work.tasks} tasks")
    ctx.layers.update({
        "extract.busy_s": extract_s,
        "extract.docs_out": stats["docs"],
        "extract.spans_out": stats["spans"],
        "extract.mega_docs": stats["mega"],
        "extract.error_rows": stats["errors"],
        "tokenize.term_postings_s": postings_s,
        "tokenize.postings_rows": spark.read.parquet(postings_path).count(),
        "tokenize.cjk_docs": ext.where(doc_text.rlike("[一-鿿]")).count(),
        "pipeline.docs_per_s": median([r for r, _, _ in ingests]),
        "pipeline.run_extraction_job_s": job_s,
        "pipeline.build_postings_s": build_s,
        "pipeline.self_s": job_s + build_s - extract_s - postings_s,
        "pipeline.bytes_written": harness.tree_bytes(out),
        "pipeline.spark_tasks": work.tasks,
    })
    _search_probes(ctx, spark.read.parquet(postings_path), None,
                   [q for q, _ in reads[:PROBE_QUERIES]])
    _sync_probe(ctx, QueryStream(ctx.seed + 2))


# ----------------------------------------------------------------- serve


def _get(port: int, mode: str, query: str) -> tuple[int, bytes]:
    params = {"searchTerm": query}
    if mode != "terms":
        params["mode"] = mode
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", "/pages?" + urllib.parse.urlencode(params))
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class _Pages:
    """Client side of /pages. Replies are kept and checked by ``verify``
    after the measured window, so the oracle's Python work never competes
    with the server's threads for the interpreter lock."""

    def __init__(self, port: int):
        self.port = port
        self.replies: list[tuple[str, str, int, bytes]] = []

    def ask(self, mode: str, query: str) -> None:
        status, body = _get(self.port, mode, query)
        self.replies.append((mode, query, status, body))  # list.append is atomic

    def verify(self, ctx, index: oracle.Index, catalog: dict) -> dict[int, int]:
        """Check every reply against the oracle; returns replies per status."""
        status_counts: dict[int, int] = {}
        for mode, query, status, body in self.replies:
            status_counts[status] = status_counts.get(status, 0) + 1
            ok, why = status == 200, f"HTTP {status}"
            if ok:
                pages = json.loads(body)["pageList"]
                want = [d for d, _ in index.expected(mode, query, TOP_K)]
                got = [catalog.get(p["imgPath"], (None,))[0] for p in pages]
                ok = got == want and all(
                    catalog[p["imgPath"]][1:] == (p["oriFilePath"], p["pageIdx"]) for p in pages
                )
                why = f"{len(got)} pages differ from the oracle's {len(want)}"
            ctx.count(ok, f"/pages mode={mode} {query!r}: {why}")
        self.replies.clear()
        return status_counts


def _open_loop(pages: _Pages, stream: QueryStream, rng, seconds: float, clients: int):
    """Poisson arrivals at OPEN_LOOP_QPS; at most ``clients`` in flight.
    Returns [(latency from due time, send lag)]."""
    start = time.perf_counter() + 0.05
    schedule, t = [], rng.expovariate(OPEN_LOOP_QPS)
    while t < seconds:
        schedule.append((start + t, *stream.next()))
        t += rng.expovariate(OPEN_LOOP_QPS)
    todo = iter(schedule)
    lock = threading.Lock()
    out = []

    def worker():
        while True:
            with lock:
                item = next(todo, None)
            if item is None:
                return
            due, mode, query = item
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            sent = time.perf_counter()
            pages.ask(mode, query)
            with lock:
                out.append((time.perf_counter() - due, sent - due))

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return out


def _closed_loop(ask, stream: QueryStream, seconds: float, clients: int):
    """``clients`` callers that each wait for ``ask(mode, query)`` to
    return; returns (completed queries per second, latencies)."""
    lock = threading.Lock()
    lat = []
    t0 = time.perf_counter()
    stop = t0 + seconds

    def client():
        while time.perf_counter() < stop:
            with lock:
                mode, query = stream.next()
            sent = time.perf_counter()
            ask(mode, query)
            with lock:
                lat.append(time.perf_counter() - sent)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return len(lat) / (time.perf_counter() - t0), lat


def search_serve(ctx) -> None:
    from ocr_search_spark.server import PagesServer

    spark, tr = ctx.spark, ctx.tracer
    src = os.path.join(ctx.work, "documents")
    index_path = os.path.join(ctx.work, "term_postings")
    catalog_path = os.path.join(ctx.work, "catalog")
    syn = seeded_corpus(spark, SERVE_DOCS, ctx.seed)

    def build(i):
        # the standing index and catalog, as the serve job reads them
        for path in (src, index_path, catalog_path):
            shutil.rmtree(path, ignore_errors=True)
        syn.select("doc_id", "spans").write.parquet(src)
        ext = extract.extract_spans(spark.read.parquet(src), impl="columnar",
                                    skew_threshold=SKEW_THRESHOLD)
        tokenize.term_postings(ext.select("doc_id", "spans")).write.parquet(index_path)
        maintenance.doc_catalog(syn).write.parquet(catalog_path)

    builds = _timed_builds(ctx, build)
    t0 = time.perf_counter()
    with tr.span("setup.cache"):
        postings = spark.read.parquet(index_path).cache()
        docs = spark.read.parquet(catalog_path).cache()
        postings.count(), docs.count()
    cache_s = time.perf_counter() - t0
    stored = harness.tree_bytes(index_path) + harness.tree_bytes(catalog_path)
    ctx.e2e["stored_bytes_per_input_byte"] = stored / harness.tree_bytes(src)

    with tr.span("setup.oracle"):
        cols = postings.select("term", "doc_id", "tf").toArrow().to_pydict()
        index = oracle.Index.from_rows(zip(cols["term"], cols["doc_id"], cols["tf"]))
        cat = docs.toArrow().to_pydict()
    catalog = {
        img: (d, p, i)
        for img, d, p, i in zip(cat["img_path"], cat["doc_id"], cat["ori_file_path"], cat["page_idx"])
    }
    clients = min(MAX_CLIENTS, ctx.cores)
    stream = QueryStream(ctx.seed, boolean_every=BOOLEAN_EVERY)
    with PagesServer(spark, postings, docs) as srv:
        pages = _Pages(srv.port)
        t0 = time.perf_counter()
        with tr.span("warmup"):
            _closed_loop(pages.ask, QueryStream(ctx.seed + 1, boolean_every=2),
                         WARMUP_S["search_serve"], clients)
        ctx.setup_done(builds, cache_s + time.perf_counter() - t0)

        with tr.span("closed_loop"):
            qps, closed = _closed_loop(pages.ask, stream, ctx.seconds, clients)
        status = pages.verify(ctx, index, catalog)
        ctx.e2e["query_p50_ms"] = median(closed) * 1e3
        ctx.e2e["throughput_per_s"] = qps
        ctx.notes.append(
            f"closed loop, {clients} clients: n={len(closed)} p50={median(closed) * 1e3:.0f}ms "
            f"p90={harness.percentile(closed, 90) * 1e3:.0f}ms {qps:.2f} queries/s")
        if not tr.enabled:
            return

        # traced: independent users at a fixed rate, timed from due time
        with tr.span("open_loop"):
            timings = _open_loop(pages, stream, random.Random(ctx.seed), OPEN_LOOP_S, clients)
        open_lat = [lat for lat, _ in timings]
        ctx.notes.append(
            f"open loop, {OPEN_LOOP_QPS} queries/s: n={len(open_lat)} "
            f"p50={median(open_lat) * 1e3:.0f}ms p90={harness.percentile(open_lat, 90) * 1e3:.0f}ms")
        # traced: the same queries through the API directly and over HTTP
        probe = [stream.next() for _ in range(PROBE_QUERIES)]
        api_ms, http_ms = [], []
        for mode, query in probe:
            params = {"searchTerm": query, "mode": mode}
            api.search_pages(spark, postings, docs, params)  # same warmth for both timings
            with tr.span("api.search_pages", op="probe"):
                t0 = time.perf_counter()
                api.search_pages(spark, postings, docs, params)
                api_ms.append((time.perf_counter() - t0) * 1e3)
            with tr.span("server.get", op="probe"):
                t0 = time.perf_counter()
                pages.ask(mode, query)
                http_ms.append((time.perf_counter() - t0) * 1e3)
        for code, n in pages.verify(ctx, index, catalog).items():
            status[code] = status.get(code, 0) + n
        ctx.layers.update({
            "api.search_pages_ms": median(api_ms),
            "api.status_4xx": sum(n for code, n in status.items() if 400 <= code < 500),
            "api.status_5xx": sum(n for code, n in status.items() if code >= 500),
            "server.http_overhead_ms": median(h - a for h, a in zip(http_ms, api_ms)),
            "server.send_lag_ms": median([lag for _, lag in timings]) * 1e3,
            "server.open_loop_p50_ms": median(open_lat) * 1e3,
        })
        _search_probes(ctx, postings, docs, [q for m, q in probe if m == "terms"] or ["table"])


# ------------------------------------------------------------------ sync

_SOURCE_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


class _SourceTree:
    """The synced source directory and its model: which docs each file
    holds and the golden postings of every live doc."""

    def __init__(self, root: str, pool: list[dict], seed: int):
        self.root = root
        self.pool = iter(pool)
        self.rng = random.Random(seed)
        self.files: dict[str, list[dict]] = {}
        self.terms: dict[str, dict[str, int]] = {}
        self.index = oracle.Index()
        self.clock = 1_600_000_000  # explicit mtimes: sync diffs whole seconds
        self.n_new = 0
        os.makedirs(root)

    def _write(self, name: str, docs: list[dict]) -> int:
        path = os.path.join(self.root, name)
        pq.write_table(pa.Table.from_pylist(docs, schema=_SOURCE_SCHEMA), path)
        self.clock += 1
        os.utime(path, (self.clock, self.clock))
        for d in self.files.get(name, []):
            self.index.drop_doc(d["doc_id"], self.terms.pop(d["doc_id"]))
        for d in docs:
            self.terms[d["doc_id"]] = oracle.expected_terms(d["doc_id"], d["spans"])
            self.index.set_doc(d["doc_id"], self.terms[d["doc_id"]])
        self.files[name] = docs
        return os.path.getsize(path)

    def add_file(self, n_docs: int) -> int:
        """Write a new file of ``n_docs`` unseen docs; returns its size."""
        name = f"f{self.n_new:05d}.parquet"
        self.n_new += 1
        return self._write(name, [next(self.pool) for _ in range(n_docs)])

    def churn(self, marker: str) -> dict:
        """One poll's changes: append a ``marker`` span to every doc of
        MODIFY files, add ADD new files, delete DELETE files."""
        names = self.rng.sample(sorted(self.files), MODIFY + DELETE)
        modified, deleted = names[:MODIFY], names[MODIFY:]
        changed_bytes, modified_docs, deleted_docs, before = 0, [], [], self.n_new
        for name in modified:
            docs = []
            for d in self.files[name]:
                top = max((s["offset"] for s in d["spans"]), default=-1)
                marker_span = {"kind": "text", "text": marker, "media_ref": "", "offset": top + 1}
                docs.append({"doc_id": d["doc_id"], "spans": [*d["spans"], marker_span]})
                modified_docs.append(d["doc_id"])
            changed_bytes += self._write(name, docs)
        for _ in range(ADD):
            changed_bytes += self.add_file(SYNC_DOCS_PER_FILE)
        for name in deleted:
            os.remove(os.path.join(self.root, name))
            for d in self.files.pop(name):
                self.index.drop_doc(d["doc_id"], self.terms.pop(d["doc_id"]))
                deleted_docs.append(d["doc_id"])
        added = [d for i in range(before, self.n_new) for d in self.files[f"f{i:05d}.parquet"]]
        return {
            "bytes": changed_bytes,
            "new_versions": [d for n in modified for d in self.files[n]] + added,
            "modified_docs": modified_docs,
            "deleted_docs": deleted_docs,
            "docs": len(modified_docs) + len(deleted_docs) + ADD * SYNC_DOCS_PER_FILE,
        }


def _sync_probe(ctx, queries: QueryStream) -> None:
    """Traced search_stored runs: the ``jobs.py sync`` shape on a small source
    tree. A cold sync, then SYNC_POLLS polls that each modify MODIFY files
    (a new marker term in every doc), add ADD and delete DELETE, each
    followed by uncached read-after-write searches (``jobs.py search``)."""
    from ocr_search_spark.streaming import index_maintain

    spark, tr = ctx.spark, ctx.tracer
    wh = os.path.join(ctx.work, "warehouse")
    postings_path = os.path.join(wh, "postings")
    n_pool = (SYNC_FILES + ADD * SYNC_POLLS) * SYNC_DOCS_PER_FILE
    # seeded_corpus yields about n docs: ask for more than the tree needs
    pool = seeded_corpus(spark, 2 * n_pool, ctx.seed).select("doc_id", "spans").toArrow().to_pylist()
    tree = _SourceTree(os.path.join(ctx.work, "source"), pool, ctx.seed)
    for _ in range(SYNC_FILES):
        tree.add_file(SYNC_DOCS_PER_FILE)
    with tr.span("sync.cold_sync", op="sync_cold"):
        sync.sync_once(spark, tree.root, wh, n_buckets=SYNC_BUCKETS)

    poll_s, read_s, diffs, changed_bytes, works, files = [], [], [], [], [], []
    for p in range(SYNC_POLLS):
        marker = f"mkr{ctx.seed}p{p}z"
        change = tree.churn(marker)
        before = harness.data_files(wh)
        t0 = time.perf_counter()
        with tr.span("sync.sync_once", op=f"poll{p}"), ctx.group("sync") as work:
            counts = sync.sync_once(spark, tree.root, wh, n_buckets=SYNC_BUCKETS)
        poll_s.append(time.perf_counter() - t0)
        works.append(work)
        files.append(sum(counts.values()))
        diffs.append(harness.storage_diff(before, harness.data_files(wh)))
        changed_bytes.append(change["bytes"])
        ctx.count(counts == {"added": ADD, "modified": MODIFY, "deleted": DELETE},
                  f"poll {p} saw {counts}")
        # read-after-write: this poll's new term, then ordinary queries
        k = len(change["modified_docs"])
        for q in [marker] + [queries.next()[1] for _ in range(READS_PER_POLL - 1)]:
            with tr.span("read", op=f"poll{p}"):
                seconds, hits = _read_query(ctx, postings_path, q, max(k, TOP_K))
            read_s.append(seconds)
            ctx.count(hits == tree.index.search(q, max(k, TOP_K)), f"fresh search {q!r} after poll")
        gone = spark.read.parquet(postings_path).where(F.col("doc_id").isin(change["deleted_docs"]))
        ctx.count(gone.isEmpty(), f"deleted docs still indexed after poll {p}")

    # the last poll's document work alone (index_maintain's extract +
    # tokenize) into a no-op sink
    changed = spark.createDataFrame(change["new_versions"], DOCUMENTS)
    with tr.span("index_maintain.compute", op="probe"):
        t0 = time.perf_counter()
        _noop(tokenize.term_postings(
            index_maintain.extract_spans_columnar(changed).select("doc_id", "spans")))
        compute_s = time.perf_counter() - t0
    ctx.layers.update({
        "sync.poll_s": median(poll_s),
        "sync.fresh_query_ms": median(read_s) * 1e3,
        "sync.files_changed": median(files),
        "sync.docs_changed": change["docs"],
        "sync.spark_tasks": median([w.tasks for w in works]),
        "index_maintain.compute_s": compute_s,
        "storage.bytes_written": median([d.bytes_written for d in diffs]),
        "storage.files_written": median([d.files_written for d in diffs]),
        "storage.buckets_rewritten": median([d.buckets_rewritten for d in diffs]),
        "storage.write_amp": median([d.bytes_written / b for d, b in zip(diffs, changed_bytes)]),
        "storage.files_total": diffs[-1].files_total,
    })
    ctx.notes.append(f"sync Spark work per poll (last): {works[-1].jobs} jobs, "
                     f"{works[-1].stages} stages, {works[-1].tasks} tasks; "
                     f"storage.files_total per poll {[d.files_total for d in diffs]}")
