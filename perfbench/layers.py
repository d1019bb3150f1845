"""Calls into single layers of pulse_spark, each timed from outside the
program and, where it answers queries, checked against the oracle.
The workloads call these; per-layer metrics come from them in traced
runs."""

from __future__ import annotations

import inspect
import json
import os
import time

import numpy as np

from common import Clock, Run, median, percentile, rss_mb
from corpus import TOPK, Corpus
from spans import COUNTERS

# ---------------------------------------------------------------------------
# index build
# ---------------------------------------------------------------------------


def build(run: Run, spark, corpus: Corpus, out_dir: str, tracer) -> float:
    """One persisted build with segments into a fresh out_dir; checks the
    manifest's row counts.  Returns wall seconds."""
    from pulse_spark.config import IndexingSettings
    from pulse_spark.index.persist import build_persisted_index

    import check

    with tracer.span("index.build", spark=True):
        c = Clock()
        build_persisted_index(spark, spark.read.parquet(corpus.path), out_dir,
                              IndexingSettings(), build_segments=True)
        wall = c()
    m = manifest(out_dir)
    exp = corpus.expected_rows()
    seg = m["stages"].get("segments", {})
    exp["segments"] = check.segment_blocks(
        corpus.doc_ids, corpus.oracle, int(seg.get("range_size") or 1),
        IndexingSettings().block_size)
    errs = check.manifest_errors(m, exp)
    run.check(not errs, f"build {out_dir}: {errs}")
    return wall


def manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "manifest.json")) as f:
        return json.load(f)


def _files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def index_metrics(run: Run, corpus: Corpus, out_dirs: list[str]) -> None:
    """index.* per-layer metrics over the traced builds into out_dirs."""
    ms = [manifest(d) for d in out_dirs]
    for stage in ("docs", "postings", "terms", "stats", "segments"):
        run.metric(f"index.stage.{stage}_s",
                   median(m["stages"][stage]["wall_sec"] for m in ms), "s")
    last = out_dirs[-1]
    run.metric("index.files", len(_files(last)), "count")
    run.metric("index.segments.files", len(_files(os.path.join(last, "segments"))), "count")
    run.metric("index.bytes_per_text_byte",
               sum(os.path.getsize(f) for f in _files(last)) / corpus.text_bytes, "ratio")
    sums = run.tracer.spark_sum("index.build")
    n = len(run.tracer.named("index.build"))
    for k, unit in COUNTERS.items():
        if k != "input_rows":
            run.metric(f"index.build.{k}", sums[k] / n, unit)


# ---------------------------------------------------------------------------
# text, sources, compression
# ---------------------------------------------------------------------------


def text_probes(run: Run, spark, corpus: Corpus) -> None:
    from pulse_spark.config import IndexingSettings
    from pulse_spark.sources.readers import read_parquet_spread
    from pulse_spark.text.normalize import tokens
    from pulse_spark.text.udfs import make_term_freq_udf

    settings = IndexingSettings().preprocess
    sample = corpus.texts[:5000]
    c = Clock()
    n = sum(len(tokens(t, settings)) for t in sample)
    run.metric("text.tokens_per_s", n / c(), "1/s")

    udf = make_term_freq_udf(settings)
    walls = []
    for _ in range(2):
        c = Clock()
        (spark.read.parquet(corpus.path).select(udf("text"))
         .write.format("noop").mode("overwrite").save())
        walls.append(c())
    run.metric("text.udf_rows_per_s", corpus.turns / min(walls), "1/s")

    c = Clock()
    (read_parquet_spread(spark, corpus.path, "conv_id")
     .write.format("noop").mode("overwrite").save())
    run.metric("sources.scan_s", c(), "s")


def encode_probe(run: Run, corpus: Corpus) -> None:
    """Delta+varint doc ids and unary tfs, in blocks of the build's
    block size, over postings of a sample of the corpus."""
    from pulse_spark.compression.codecs import delta_varint_encode, unary_encode
    from pulse_spark.config import IndexingSettings

    bs = IndexingSettings().block_size
    blocks = []
    for plist in corpus.oracle.postings.values():
        ids = np.array(sorted(corpus.doc_ids[d] for d in plist), np.uint64)
        tfs = np.array([plist[d] for d in sorted(plist, key=corpus.doc_ids.get)],
                       np.uint64)
        for i in range(0, len(ids), bs):
            blocks.append((ids[i:i + bs], tfs[i:i + bs]))
    n = sum(len(b[0]) for b in blocks)
    c = Clock()
    out = sum(len(delta_varint_encode(i)) + len(unary_encode(t, minimum=1))
              for i, t in blocks)
    run.metric("compression.encode_postings_per_s", n / c(), "1/s")
    run.metric("compression.ratio", 8 * n / out, "ratio")  # vs the raw u4 ids + u4 tfs


# ---------------------------------------------------------------------------
# Spark query path
# ---------------------------------------------------------------------------


def query_probes(run: Run, spark, corpus: Corpus, index_dir: str, n: int = 3) -> None:
    """search_topk and search_segments, one query per call, the calls
    alternating for the same query; each answer checked."""
    import pyarrow.parquet as pq

    from pulse_spark.index.persist import load_index
    from pulse_spark.index.segments import search_segments
    from pulse_spark.query.search import prepare_query_scan, search_topk
    from pulse_spark.sources.readers import local_table

    tr = run.tracer
    idx = load_index(spark, index_dir)
    docs = pq.read_table(os.path.join(index_dir, "docs"), columns=["doc_id", "doc_no"])
    doc_no = dict(zip(docs["doc_id"].to_pylist(), docs["doc_no"].to_pylist()))
    results = {"query.topk": 0, "segments.search": 0}
    for i, q in enumerate([q for q in corpus.pool if not q.conjunctive][:n]):
        qdf = local_table(spark, [(i, q.text)], "query_id long, text string")
        with tr.span("query.prepare", request=i, spark=True):
            prepare_query_scan(idx, qdf)
        with tr.span("query.topk", request=i, spark=True):
            rows = search_topk(idx, qdf, k=TOPK, metric=q.metric).collect()
        ranked = corpus.ranked(q)
        got = [(r["doc_no"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        run.check(_same(got, ranked), f"search_topk {q}")
        results["query.topk"] += len(rows)
        with tr.span("segments.search", request=i, spark=True):
            rows = search_segments(spark, idx, qdf, k=TOPK, metric=q.metric).collect()
        got = [(doc_no[r["doc_id"]], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        run.check(_same(got, ranked), f"search_segments {q}")
        results["segments.search"] += len(rows)
    run.metric("query.prepare_ms", median(sp.wall for sp in tr.named("query.prepare")) * 1e3, "ms")
    for name, n_results in results.items():
        calls = tr.named(name)
        s = tr.spark_sum(name)
        run.metric(f"{name}_ms", median(sp.wall for sp in calls) * 1e3, "ms")
        run.metric(f"{name}.jobs", s["jobs"] / len(calls), "count")
        run.metric(f"{name}.tasks", s["tasks"] / len(calls), "count")
        run.metric(f"{name}.driver_ms", s["driver_s"] * 1e3 / len(calls), "ms")
        run.metric(f"{name}.executor_run_ms", s["executor_run_s"] * 1e3 / len(calls), "ms")
        run.metric(f"{name}.rows_read_per_result", s["input_rows"] / max(n_results, 1), "ratio")
    s = tr.spark_sum("query.topk")
    run.metric("query.topk.shuffle_kb",
               (s["shuffle_write_mb"] + s["shuffle_read_mb"]) * 1e3 / len(tr.named("query.topk")), "KB")


def _same(got, ranked) -> bool:
    import check

    return check.same_topk(got, ranked, TOPK)


# ---------------------------------------------------------------------------
# Spark-free serving
# ---------------------------------------------------------------------------


def cache_terms() -> int:
    from pulse_spark.serve import PointServer

    return inspect.signature(PointServer.__init__).parameters["cache_terms"].default


def lru_fill(queries: list, lexicon: dict, n: int, settings) -> list[str]:
    """The terms an LRU of n terms holds after serving `queries` in
    order, least recently used first: searching them in this order puts
    the cache in that state at a fraction of the reads."""
    from pulse_spark.text.normalize import tokens

    last = {}
    for i, q in enumerate(queries):
        for t in tokens(q.text, settings):
            if t in lexicon:
                last[t] = i
    return sorted(last, key=last.get)[-n:]


FILL_QUERIES = 6000  # stream queries whose LRU end state the fill reproduces
FILL_BATCH = 64      # terms per cache-filling query


def serve(run: Run, corpus: Corpus, index_dir: str, warm: int, seconds: float,
          min_queries: int) -> dict:
    """One closed-loop client.  Set-up: load a PointServer, put its
    block cache in the state the first FILL_QUERIES queries of the stream
    would leave it in (lru_fill, FILL_BATCH terms to a query), then send
    the next `warm` queries of the stream.  Timed: send queries one at a
    time for `seconds` and at least min_queries.  Every answer of the
    timed stream is checked against the oracle afterwards."""
    from pulse_spark.serve import PointServer

    rng = np.random.default_rng([run.seed, 5])
    stream = (corpus.pool[i] for i in iter(lambda: int(rng.integers(len(corpus.pool))), -1))
    out = {"rss0": rss_mb()}
    c = Clock()
    srv = PointServer(index_dir)
    out["load_s"] = c()
    fill = lru_fill([next(stream) for _ in range(FILL_QUERIES)], srv.df,
                    cache_terms(), srv.settings.preprocess)
    c = Clock()
    for i in range(0, len(fill), FILL_BATCH):
        srv.search(" ".join(fill[i:i + FILL_BATCH]), k=TOPK)
    out["fill_s"] = c()
    warm_lat = []
    for _ in range(warm):
        q = next(stream)
        t0 = time.perf_counter()
        srv.search(q.text, k=TOPK, metric=q.metric, conjunctive=q.conjunctive)
        warm_lat.append(time.perf_counter() - t0)
    out["warm_s"] = out["fill_s"] + sum(warm_lat)
    out["warmup_p50_ms"] = median(warm_lat) * 1e3

    tr = run.tracer
    lat, answers = [], []
    cpu0 = time.process_time()
    window = Clock()
    while window() < seconds or len(lat) < min_queries:
        q = next(stream)
        with tr.span("serve.search", request=len(lat)):
            t0 = time.perf_counter()
            res = srv.search(q.text, k=TOPK, metric=q.metric, conjunctive=q.conjunctive)
            lat.append(time.perf_counter() - t0)
        answers.append((q, res))
    out["elapsed"] = window()
    out["cpu_s"] = time.process_time() - cpu0
    out["rss1"] = rss_mb()
    out["lat"] = lat
    out["df"] = srv.df
    out["settings"] = srv.settings
    srv.close()

    from corpus import rank_all

    ranked = rank_all(corpus, {q for q, _ in answers})
    for q, res in answers:
        got = [(r.doc_no, r.score) for r in res]
        run.check(_same(got, ranked[q]), f"serve {q}")
    out["queries"] = [q for q, _ in answers]
    return out


def serve_metrics(run: Run, corpus: Corpus, index_dir: str, s: dict) -> None:
    from pulse_spark.text.normalize import tokens

    qs = s["queries"]
    df = s["df"]
    run.metric("serve.load_s", s["load_s"], "s")
    run.metric("serve.warmup_p50_ms", s["warmup_p50_ms"], "ms")
    run.metric("serve.qps", len(qs) / s["elapsed"], "1/s")
    run.metric("serve.rss_mb", s["rss1"] - s["rss0"], "MB")
    run.metric("serve.cpu_ms_per_query", s["cpu_s"] * 1e3 / len(qs), "ms")
    c = Clock()
    toks = [tokens(q.text, s["settings"].preprocess) for q in qs]
    run.metric("serve.tokenize_us", c() * 1e6 / len(qs), "us")
    terms = [{t for t in ts if t in df} for ts in toks]
    run.metric("serve.terms_per_query", sum(map(len, terms)) / len(qs), "count")
    run.metric("serve.postings_per_query",
               sum(sum(df[t] for t in ts) for ts in terms) / len(qs), "count")
    pool_terms = {t for q in corpus.pool for t in tokens(q.text, s["settings"].preprocess)
                  if t in df}
    run.metric("serve.working_set_ratio", len(pool_terms) / cache_terms(), "ratio")
    storage_probe(run, index_dir, sorted({t for ts in terms for t in ts}))


def storage_probe(run: Run, index_dir: str, terms: list[str], n: int = 40) -> None:
    """pyarrow read of single terms' segment rows, then decode_payload
    over the blocks read."""
    import pyarrow.dataset as ds

    from pulse_spark.index.segments import decode_payload

    pick = [terms[i] for i in np.random.default_rng([run.seed, 6]).choice(
        len(terms), size=min(n, len(terms)), replace=False)]
    seg = ds.dataset(os.path.join(index_dir, "segments"), format="parquet",
                     partitioning="hive")
    cols = ["doc_ids_bin", "tfs_bin", "doc_lens_bin", "n"]
    reads, tables = [], []
    for t in pick:
        c = Clock()
        tables.append(seg.to_table(columns=cols, filter=ds.field("term") == t))
        reads.append(c())
    run.metric("storage.read_ms_per_term", median(reads) * 1e3, "ms")
    blocks = [(r["doc_ids_bin"], r["tfs_bin"], r["doc_lens_bin"])
              for tb in tables for r in tb.to_pylist()]
    n_post = sum(int(x) for tb in tables for x in tb["n"].to_pylist())
    c = Clock()
    for b in blocks:
        decode_payload(*b, True)
    run.metric("compression.decode_postings_per_s", n_post / c(), "1/s")


def serve_e2e(run: Run, s: dict) -> None:
    lat = s["lat"]
    run.metric("p50_ms", median(lat) * 1e3, "ms")
    run.metric("tail_ms", percentile(lat, 95) * 1e3, "ms")
