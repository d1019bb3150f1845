"""index workload: the write path and then Spark-free serving.

Two seeded transcript corpora: a build corpus of ~99 000 turns, the
size bench.py builds, and a serve corpus of ~9 000 turns.  Set-up: Spark
start and one untimed build of the serve corpus, which warms the JVM and
is the index served later.  Timed: warm builds of the build corpus, each
into a fresh directory, for BUILD_SHARE of the run (at least one).  Then
Spark is stopped (its JVM exits), a PointServer loads the serve index
and fills its cache (set-up), and one closed-loop client sends the
seeded query stream for SERVE_SHARE of the run and at least MIN_QUERIES
queries."""

from __future__ import annotations

import os

import headline
import layers
from common import Clock, Run, median, start_spark, stop_spark, storage_mb
from corpus import Corpus, transcripts_corpus
from spans import Tracer

# A warm build costs ~7.6 s of fixed per-build work (Spark jobs, stage
# commits) plus ~90 us per turn on a 4-core host, so at ~99 000 turns
# the per-turn work is over half of a build.
BUILD_CONVS = 22_000    # about 99 000 turns
BUILD_SEED = 1 << 20    # offsets the build corpus's seed from the serve corpus's
SERVE_CONVS = 2000      # about 9 000 turns
TAIL = 40_000           # synthetic tail words: the serve corpus holds ~20 000 terms
# The query stream: HOT words (Zipf) always fit the 4 096-term block
# cache; a P_TAIL share of draws come uniformly from the rest of the
# QUERY_VOCAB most frequent words, so the pool's in-lexicon terms
# outnumber the cache about 1.5x and about one query in six reads
# parquet.  That keeps the p50 inside the all-hit mode and the p95
# inside the miss mode, away from the boundary where either would jump
# between the two.
QUERY_VOCAB = 16_000
HOT = 1000
P_TAIL = 0.2
POOL = 24_000
BUILD_SHARE = 0.55      # of the run's seconds for builds ...
SERVE_SHARE = 0.2       # ... and for the query stream
WARM_QUERIES = 500
MIN_QUERIES = 1000      # p95 then has 50 samples beyond it


def run_index(run: Run) -> None:
    build = transcripts_corpus(run.work, "build", run.seed + BUILD_SEED, BUILD_CONVS,
                               TAIL, QUERY_VOCAB, 10, HOT, P_TAIL)
    serve = transcripts_corpus(run.work, "serve", run.seed, SERVE_CONVS, TAIL,
                               QUERY_VOCAB, POOL, HOT, P_TAIL)
    tr = run.tracer
    c = Clock()
    spark = start_spark(run)
    run.setup_s += c()
    try:
        serve_dir, build_window = _spark_phase(run, spark, build, serve)
    finally:
        stop_spark(spark)

    serve_window = SERVE_SHARE * run.seconds
    s = layers.serve(run, serve, serve_dir, WARM_QUERIES, serve_window, MIN_QUERIES)
    run.setup_s += s["load_s"] + s["warm_s"]
    layers.serve_e2e(run, s)
    if run.traced:
        layers.encode_probe(run, serve)
        layers.serve_metrics(run, serve, serve_dir, s)
        overhead = tr.overhead_s
        run.metric("tracing.overhead_pct",
                   100 * overhead / (build_window + s["elapsed"]), "%")


def _spark_phase(run: Run, spark, build: Corpus, serve: Corpus) -> tuple[str, float]:
    """Set-up build of the serve corpus, timed builds of the build
    corpus, and in traced runs the Spark-side layer probes.  Returns the
    serve index's directory and the wall time the timed builds took."""
    tr = run.tracer
    tr.sc = spark.sparkContext
    serve_dir = os.path.join(run.work, "idx-serve")
    c = Clock()
    layers.build(run, spark, serve, serve_dir, Tracer(False))
    run.setup_s += c()

    walls, dirs = [], []
    window = Clock()
    budget = BUILD_SHARE * run.seconds
    while not walls or window() + median(walls) <= budget:
        d = os.path.join(run.work, f"idx{len(walls)}")
        walls.append(layers.build(run, spark, build, d, tr))
        dirs.append(d)
    build_window = window()
    run.metric("throughput_per_s", build.turns / median(walls), "1/s")

    if run.traced:
        overhead = tr.overhead_s
        layers.index_metrics(run, build, dirs)
        layers.text_probes(run, spark, build)
        layers.query_probes(run, spark, build, dirs[-1])
        tables, exp = headline.base_tables()
        storage0 = storage_mb(spark)
        walls_hl, out = headline.one_pass(
            spark, tr, headline.new_copy(run, tables, 0), request=0)
        headline.check_pass(run, exp, out)
        headline.pass_metrics(run, spark, [walls_hl], storage0)
        tr.overhead_s = overhead        # the probes are not part of the timed work
    return serve_dir, build_window
