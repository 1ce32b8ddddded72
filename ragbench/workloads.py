"""The benchmark's workloads: set-up, measured loop and output checks.

Calls into the traced entry points go through the module attribute
(``R.write_bm25_index``, not a name imported here), so a traced run's
wrappers see them.

Each workload reports the same end-to-end metrics (see ``run.py``):
  setup_s                   median session start, plus the state build
  docs_per_s                raw documents through the write path per second
  write_p50_s               median latency of one write operation
  write_bytes_per_raw_byte  bytes of new files per raw JSON byte
  query_p50_s               median latency of one served query
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen
import lakehouse_to_rag_spark.etl as E
import lakehouse_to_rag_spark.functions.chunker as C
import lakehouse_to_rag_spark.operators.pipeline as P
import lakehouse_to_rag_spark.operators.retrieval as R
import lakehouse_to_rag_spark.operators.similarity as S
import lakehouse_to_rag_spark.operators.text_analysis as T
import lakehouse_to_rag_spark.session as SS
import lakehouse_to_rag_spark.sources.lakehouse as L
import lakehouse_to_rag_spark.sources.raw_json as J
from lakehouse_to_rag_spark.sources.tables import tiny_df

SETUP_REPS = 3
MIN_ROUNDS = 3
TS = "2025-01-01 00:00:00"  # injected processed_at: deterministic layers


@dataclass
class Ctx:
    """One run: the seed, the measured window, the tracer and results."""
    seed: int
    seconds: float
    work: str
    tracer: object
    traced: bool
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    layout: dict = field(default_factory=dict)
    phases: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a mismatch fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def enter(self, phase: str) -> None:
        """Start a phase (setup, measure, check): spans opened from now
        on belong to it, and its start time is kept for the log."""
        self.tracer.phase = phase
        self.phases.append((phase, time.perf_counter()))

    def op(self) -> None:
        """Count one measured operation (it raised nothing)."""
        self.attempted += 1

    def keep_going(self, done: int, t0: float) -> bool:
        """Measured-loop condition: MIN_ROUNDS rounds, then more until
        the window has passed. Every run on a host thus measures the
        same rounds (the window is shorter than MIN_ROUNDS rounds take),
        so their medians compare. A traced run does exactly one round,
        so its counters repeat exactly across runs."""
        if self.traced:
            return done < 1
        return done < MIN_ROUNDS or time.perf_counter() - t0 < self.seconds


def p50(samples: list[float]) -> float:
    """Median of a measured loop's samples after the first. The first
    round warms both kinds of operation: the first of a kind in a JVM
    costs up to 1.5 times the next. (A traced run has one round.)"""
    return statistics.median(samples[1:] or samples)


def start_session(ctx: Ctx, restart: bool) -> None:
    """``get_spark`` plus the first action (the session's real cost)."""
    with ctx.tracer.span("session.get_spark"):
        if restart and ctx.spark is not None:
            ctx.spark.stop()
        # local[2]: on a 4-core host the spare cores keep the driver,
        # JIT and GC threads off the task slots, and a busy neighbour
        # slowed a pass less than with three slots (measured)
        ctx.spark = SS.get_spark("ragbench", cpus=2)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.tracer.attach()
        ctx.spark.range(1).count()


def tree_files(root: str) -> dict[str, int]:
    """Size of every visible file under ``root`` (hidden ``.crc``
    checksums and ``_SUCCESS`` markers excluded)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith(".") or n == "_SUCCESS":
                continue
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files present in ``after`` but not ``before``: every
    writer here creates uniquely named part files, so this is the bytes
    one operation wrote, rewrites included."""
    return sum(sz for p, sz in after.items() if p not in before)


def data_files(root: str) -> int:
    return sum(1 for p in tree_files(root) if p.endswith(".parquet"))


def _timed_setup(ctx: Ctx, build) -> None:
    """setup_s: the median of SETUP_REPS session starts (the first one
    also launches the JVM), plus one run of ``build``, the workload's
    warm-up or serving state. Running that more than once would not fit
    the run's time budget; the session is what repeats."""
    times = []
    ctx.enter("setup")
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        start_session(ctx, restart=rep > 0)
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    build()
    ctx.metrics["setup_s"] = statistics.median(times) + time.perf_counter() - t0


# ---------------------------------------------------------------------
# ingest_full
# ---------------------------------------------------------------------

INGEST_DOCS = 400
WARM_DOCS = 60
INGEST_QUERIES = 16  # one per round, drawn up front
K = 10


def _ingest_pass(ctx: Ctx, raw_dir: str, out: str):
    """raw JSON -> run_etl (bronze, silver, gold) -> build_rag_indexes
    over the silver content; returns (layer paths, manifest rows)."""
    spark = ctx.spark
    paths = E.run_etl(spark, f"{raw_dir}/*.json", f"{out}/lake", processed_at=TS)
    docs = L.read_layer(spark, paths["silver"]).select(
        _url_doc_id().alias("doc_id"), F.col("content").alias("text")
    )
    manifest = R.build_rag_indexes(docs, f"{out}/index").collect()
    return paths, manifest


def _url_doc_id():
    """run_etl keeps no raw doc_id; the page number in a generated URL
    is the document's id."""
    return F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")


def _expected_chunks(contents: list[str]) -> tuple[int, int]:
    """(chunks, embedded chunks) that build_rag_indexes must index:
    200/10 fixed-stride chunks, and those whose signed hashed-tf vector
    (md5 60-bit word hash, bucket h % 64, sign = bit 59) is nonzero."""
    memo: dict[str, tuple[int, int]] = {}

    def h(w: str) -> tuple[int, int]:
        if w not in memo:
            x = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            memo[w] = (x % 64, 1 if (x >> 59) & 1 else -1)
        return memo[w]

    n = embedded = 0
    for c in contents:
        for s in range(0, max(len(c), 1), 190):
            n += 1
            vec = [0] * 64
            for w in c[s:s + 200].split(" "):
                if w:
                    b, sg = h(w)
                    vec[b] += sg
            embedded += any(vec)
    return n, embedded


def _check_ingest(ctx: Ctx, corpus: gen.Corpus, paths, manifest, rng) -> None:
    """Bronze and silver match the planted counts and URL set, gold
    chunks of a seeded sample match the chunker, and the index manifest
    matches the chunk and embedded-chunk counts."""
    spark = ctx.spark
    bronze = L.read_layer(spark, paths["bronze"]).count()
    ctx.check(bronze == corpus.expected_bronze,
              f"bronze {bronze} != expected {corpus.expected_bronze}")
    silver = L.read_layer(spark, paths["silver"]).select("url", "content").collect()
    ctx.check(len(silver) == corpus.expected_silver,
              f"silver {len(silver)} != expected {corpus.expected_silver}")
    ctx.check({r["url"] for r in silver} == set(corpus.expected_silver_urls),
              "silver urls differ from the planted bodies")
    content = {r["url"]: r["content"] for r in silver}
    sample = sorted(rng.choice(sorted(content), size=min(25, len(content)), replace=False))
    gold = (
        L.read_layer(spark, paths["gold"])
        .filter(F.col("url").isin(sample))
        .select("url", "chunk_index", "chunk")
        .collect()
    )
    got: dict[str, list] = {}
    for r in sorted(gold, key=lambda r: (r["url"], r["chunk_index"])):
        got.setdefault(r["url"], []).append(r["chunk"])
    for u in sample:
        ctx.check(got.get(u) == C.split_text_recursive(content[u], 200, 10),
                  f"gold chunks of {u} differ from split_text_recursive")
    n_chunks, n_embedded = _expected_chunks(list(content.values()))
    stats = sum(r["n_rows"] for r in manifest if r["index"] == "stats")
    ivf = sum(r["n_rows"] for r in manifest if r["index"] == "ivf")
    ctx.check(stats == n_chunks, f"manifest stats {stats} != chunks {n_chunks}")
    ctx.check(ivf == n_embedded, f"manifest ivf {ivf} != embedded {n_embedded}")


def _served_query(ctx: Ctx, index: str, qid: int, text: str, id_col: str):
    """One served query: BM25 top-K and IVF top-K (full probe) from the
    ``bm25`` and ``ivf`` layouts under ``index``, keyed by ``id_col``."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("serve.request"):
        q = tiny_df(spark, [(qid, text)], "query_id long, query string")
        qv = T.embed_hashed_tf(q, dim=64, id_col="query_id", text_col="query")
        qv = qv.withColumnRenamed("query_id", id_col)
        lex = R.bm25_topk_from_index(spark, f"{index}/bm25", q, k=K)
        vec = S.ivf_topk_from_index(spark, f"{index}/ivf", qv, k=K,
                                    nprobe=16, id_col=id_col)
        with tr.span("serve.collect"):
            return lex.collect(), vec.collect()


def ingest_full(ctx: Ctx) -> None:
    rng = np.random.default_rng(ctx.seed)
    text = gen.TextSource(rng)
    warm = gen.crawl(text, WARM_DOCS)
    corpus = gen.crawl(text, INGEST_DOCS)
    queries = [text.query() for _ in range(INGEST_QUERIES)]
    work = ctx.work
    raw_bytes = gen.write_jsonl(corpus.records, f"{work}/raw")
    gen.write_jsonl(warm.records, f"{work}/raw_warm")

    # set-up warms the JVM: the first pass in it costs about three times
    # a later one, and a small corpus warms it as well as a full one
    _timed_setup(ctx, lambda: _ingest_pass(ctx, f"{work}/raw_warm", f"{work}/warm"))
    ctx.enter("measure")

    # rounds of one pass, then one served query on the layouts that
    # pass wrote: each kind always follows the other, so every sample
    # pays the same switch (an operation that follows one of another
    # kind runs slower than the next of its kind; measured)
    times, lat, served, manifests = [], [], [], []
    n = 0
    t0 = time.perf_counter()
    while ctx.keep_going(n, t0):
        out = f"{work}/pass{n}"
        t = time.perf_counter()
        paths, manifest = _ingest_pass(ctx, f"{work}/raw", out)
        times.append(time.perf_counter() - t)
        ctx.op()
        manifests.append(sorted(map(tuple, manifest)))
        qid, qtext = -(n + 1), queries[n % INGEST_QUERIES]
        t = time.perf_counter()
        served.append((qid, qtext, _served_query(ctx, f"{out}/index", qid, qtext, "chunk_id")))
        lat.append(time.perf_counter() - t)
        ctx.op()
        n += 1
    ctx.samples = {"write_s": times, "query_s": lat}
    write_p50 = p50(times)
    ctx.metrics.update(
        docs_per_s=INGEST_DOCS / write_p50,
        write_p50_s=write_p50,
        write_bytes_per_raw_byte=sum(tree_files(out).values()) / raw_bytes,
        query_p50_s=p50(lat),
    )
    ctx.layout = {"bm25": data_files(f"{out}/index/bm25"),
                  "ivf": data_files(f"{out}/index/ivf")}
    ctx.enter("check")
    # every pass read the same input, so every pass wrote the same
    # layouts, and the last pass's layers are the truth for them all
    ctx.check(all(m == manifests[-1] for m in manifests),
              "index manifests differ between passes over one input")
    _check_ingest(ctx, corpus, paths, manifest, rng)
    _check_chunk_queries(ctx, paths, f"{out}/index", served)


def _check_chunk_queries(ctx: Ctx, paths, index, served) -> None:
    """Served chunk BM25 == in-memory bm25_topk over the chunks of the
    silver layer, and served IVF at full probe == exact knn_bruteforce
    over the indexed vectors."""
    spark = ctx.spark
    silver = L.read_layer(spark, paths["silver"])
    chunks = silver.select(
        _url_doc_id().alias("doc_id"),
        F.posexplode(C.fixed_stride_chunks(F.col("content"), 200, 10)).alias("ci", "chunk"),
    ).select(
        (F.col("doc_id") * F.lit(1_000_000) + F.col("ci")).alias("chunk_id"),
        "chunk",
    ).localCheckpoint()
    q = tiny_df(spark, [(qid, qtext) for qid, qtext, _ in served],
                "query_id long, query string")
    lex = R.bm25_topk(chunks, q, k=K, id_col="chunk_id", text_col="chunk").collect()
    # the manifest check pins the layout's vector count; exact search
    # over those same vectors is the full-probe answer
    emb = L.read_layer(spark, f"{index}/ivf").select("chunk_id", "embedding")
    qv = T.embed_hashed_tf(q, dim=64, id_col="query_id", text_col="query")
    qv = qv.withColumnRenamed("query_id", "chunk_id")
    vec = S.knn_bruteforce(emb, qv, k=K, id_col="chunk_id").collect()
    for qid, _, (s_lex, s_vec) in served:
        ctx.check(sorted(map(tuple, s_lex)) == sorted(tuple(r) for r in lex if r["query_id"] == qid),
                  f"served chunk BM25 for query {qid} != bm25_topk")
        ctx.check(sorted(map(tuple, s_vec)) == sorted(tuple(r) for r in vec if r["query_id"] == qid),
                  f"served chunk IVF for query {qid} != knn_bruteforce")


# ---------------------------------------------------------------------
# maintain_recrawl
# ---------------------------------------------------------------------

BASE_DOCS = 120
BATCH_DOCS = 100
BATCH_SHARES = {"null": 0.02, "blank": 0.02, "short": 0.04, "dup": 0.20}


def _raw_frame(ctx: Ctx, raw_dir: str):
    """A raw crawl as run_medallion_incremental takes it."""
    raw = J.read_raw_json(ctx.spark, f"{raw_dir}/*.json",
                          ["title", "content", "author", "language", "doc_id"])
    return raw.select(
        "url", "source", "title", "content",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("language").alias("lang"),
    )


def _doc_frames(silver):
    """(docs, embeddings) in the doc-level layouts' shape from silver rows."""
    docs = silver.select("doc_id", F.col("content").alias("text"), "source")
    emb = T.embed_hashed_tf(docs, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return docs, emb


def _build_base(ctx: Ctx, raw_dir: str, state: str) -> None:
    """Base lakehouse plus doc-level BM25 and IVF layouts."""
    spark = ctx.spark
    layers = P.run_medallion_incremental(spark, [_raw_frame(ctx, raw_dir)], f"{state}/lake")
    docs, emb = _doc_frames(layers["silver"])
    docs = docs.localCheckpoint(eager=False)
    emb = emb.localCheckpoint(eager=False)
    # independent layouts into disjoint directories, built side by side
    # as the rag_read_path_served registry entry builds them
    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(R.write_bm25_index, docs, f"{state}/bm25")
        fv = pool.submit(S.write_ivf_index, emb, f"{state}/ivf", num_centroids=16)
        fb.result()
        fv.result()


def _batch(ctx: Ctx, state: str, raw_dir: str, first: int, n: int) -> None:
    """One re-crawl batch: medallion upsert, then append the admitted
    rows to both serving layouts."""
    spark = ctx.spark
    layers = P.run_medallion_incremental(spark, [_raw_frame(ctx, raw_dir)], f"{state}/lake")
    admitted = layers["silver"].filter(F.col("doc_id").between(first, first + n - 1))
    docs, emb = _doc_frames(admitted)
    docs = docs.localCheckpoint()
    R.append_to_bm25_index(spark, f"{state}/bm25", docs)
    S.append_to_ivf_index(spark, f"{state}/ivf", emb)


def maintain_recrawl(ctx: Ctx) -> None:
    rng = np.random.default_rng(ctx.seed)
    text = gen.TextSource(rng)
    base = gen.crawl(text, BASE_DOCS)
    work = ctx.work
    gen.write_jsonl(base.records, f"{work}/raw_base")
    state = f"{work}/state"
    seen = {r["url"] for r in base.records if gen.in_bronze(r["content"])}
    expected = set(base.expected_silver_urls)
    next_id = BASE_DOCS

    def batch(name: str) -> tuple[gen.Corpus, float, int, int]:
        """Generate, write and run one re-crawl batch; returns the batch,
        the seconds the program took, its raw bytes and the bytes it
        wrote."""
        nonlocal next_id, seen, expected
        b = gen.crawl(text, BATCH_DOCS, first_doc_id=next_id,
                      shares=BATCH_SHARES, recrawl_urls=sorted(seen))
        raw_bytes = gen.write_jsonl(b.records, f"{work}/{name}")
        before = tree_files(state)
        t = time.perf_counter()
        _batch(ctx, state, f"{work}/{name}", next_id, BATCH_DOCS)
        took = time.perf_counter() - t
        written = new_bytes(before, tree_files(state))
        expected |= set(b.expected_silver_urls)
        seen |= {r["url"] for r in b.records if gen.in_bronze(r["content"])}
        next_id += BATCH_DOCS
        return b, took, raw_bytes, written

    _timed_setup(ctx, lambda: _build_base(ctx, f"{work}/raw_base", state))
    ctx.enter("measure")
    # rounds of one re-crawl batch, then one fresh served query for a
    # page that batch added
    b_times, q_lat, raw_total, written = [], [], 0, 0
    fresh_ids: list[int] = []
    n = 0
    t0 = time.perf_counter()
    while ctx.keep_going(n, t0):
        b, took, raw_bytes, wrote = batch(f"raw_batch{n}")
        b_times.append(took)
        raw_total += raw_bytes
        written += wrote
        ctx.op()
        # a fresh query is the text of a new mid-length page (4-6 chunks)
        text_of = {r["doc_id"]: r["content"] for r in b.records}
        mid = [d for d, c in zip(b.body_ids, b.body_chunks) if 4 <= c <= 6]
        qid = int(rng.choice(mid))
        t = time.perf_counter()
        _served_query(ctx, state, qid, text_of[qid], "vec_id")
        q_lat.append(time.perf_counter() - t)
        ctx.op()
        fresh_ids.append(qid)
        n += 1
    ctx.samples = {"write_s": b_times, "query_s": q_lat}
    write_p50 = p50(b_times)
    ctx.metrics.update(
        docs_per_s=BATCH_DOCS / write_p50,
        write_p50_s=write_p50,
        write_bytes_per_raw_byte=written / raw_total,
        query_p50_s=p50(q_lat),
    )
    ctx.layout = {"bm25": data_files(f"{state}/bm25"), "ivf": data_files(f"{state}/ivf")}
    ctx.enter("check")
    _check_maintain(ctx, state, expected, fresh_ids)


def _check_maintain(ctx: Ctx, state: str, expected: set, qids: list[int]) -> None:
    """Final silver == the admitted set; served BM25 over the appended
    index == in-memory bm25_topk over the union corpus."""
    spark = ctx.spark
    docs = L.read_layer(spark, f"{state}/lake/silver").select(
        "doc_id", F.col("content").alias("text"))
    urls = [r["url"] for r in L.read_layer(spark, f"{state}/lake/silver").select("url").collect()]
    ctx.check(len(urls) == len(set(urls)), "silver holds a duplicate url")
    ctx.check(set(urls) == expected,
              f"silver has {len(set(urls))} urls, expected admitted set of {len(expected)}")
    q = docs.filter(F.col("doc_id").isin(qids)).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query"))
    served = R.bm25_topk_from_index(spark, f"{state}/bm25", q, k=K).collect()
    mem = R.bm25_topk(docs, q, k=K).collect()
    ctx.check(sorted(map(tuple, served)) == sorted(map(tuple, mem)),
              "served BM25 after appends != in-memory bm25_topk over the union")


WORKLOADS = {"ingest_full": ingest_full, "maintain_recrawl": maintain_recrawl}
