"""A text corpus as the program sees it (one transcripts parquet file)
plus everything the benchmark derives from it outside the timed region:
the pure-Python oracle index, expected manifest counts and a query pool."""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

TOPK = 10


@dataclass
class Corpus:
    path: str                 # transcripts parquet file
    turns: int
    text_bytes: int
    texts: list               # every turn's text, in (conv_id, turn_idx) order
    oracle: object            # pulse_spark.oracle.OracleIndex
    doc_ids: dict             # doc_no -> dense doc_id the build assigns
    pool: list                # gen.Query

    def expected_rows(self) -> dict:
        return {
            "docs": self.turns,
            "postings": sum(len(p) for p in self.oracle.postings.values()),
            "terms": len(self.oracle.postings),
            "stats": 1,
        }

    def ranked(self, q: "gen.Query") -> list:
        """The oracle's full ranking for q (every candidate, best first)."""
        from pulse_spark import oracle

        return oracle.search(self.oracle, q.text, k=1 << 30, metric=q.metric,
                             conjunctive=q.conjunctive)


_WORKER: Corpus | None = None


def _init_worker(path: str) -> None:
    from common import die_with_parent

    global _WORKER
    die_with_parent()
    _WORKER = load(path, [])


def _rank(q: "gen.Query") -> tuple:
    import check

    return q, check.needed(_WORKER.ranked(q), TOPK)


def rank_all(corpus: Corpus, queries: set, workers: int = 4) -> dict:
    """{query: the part of its oracle ranking check.same_topk reads},
    computed by a few spawned processes, each holding its own oracle
    index of the corpus."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    with ctx.Pool(workers, initializer=_init_worker, initargs=(corpus.path,)) as pool:
        out = dict(pool.imap_unordered(_rank, sorted(queries, key=repr), chunksize=64))
        pool.close()
        pool.join()
    return out


def load(path: str, pool: list) -> Corpus:
    from pulse_spark import oracle
    from pulse_spark.config import IndexingSettings

    t = pq.read_table(path, columns=["conv_id", "turn_idx", "text"]).to_pylist()
    t.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    docs = [(f"{r['conv_id']}:{r['turn_idx']}", r["text"]) for r in t]
    return Corpus(
        path=path,
        turns=len(docs),
        text_bytes=sum(len(r["text"].encode()) for r in t),
        texts=[r["text"] for r in t],
        oracle=oracle.build_index(docs, IndexingSettings().preprocess),
        doc_ids={d: i for i, (d, _) in enumerate(docs)},
        pool=pool,
    )


def transcripts_corpus(work: str, name: str, seed: int, n_convs: int, tail: int,
                       query_vocab: int, pool_size: int, hot: int,
                       p_tail: float) -> Corpus:
    """Seeded transcripts under work/name; queries draw from the
    query_vocab most frequent words of the generator's vocabulary (see
    gen.query_pool)."""
    path = os.path.join(work, name, "part-0.parquet")
    gen.transcripts(path, seed, n_convs, tail)
    pool = gen.query_pool(seed, pool_size, gen.vocabulary(tail)[:query_vocab],
                          hot, p_tail)
    return load(path, pool)


def documents_corpus(work: str, seed: int, documents: pa.Table,
                     pool_size: int) -> Corpus:
    """The headline documents as one-turn transcripts."""
    path = os.path.join(work, "doc-transcripts", "part-0.parquet")
    n = documents.num_rows
    ids = documents["doc_id"].to_numpy()
    table = pa.table({
        "conv_id": pa.array([f"d{i:07d}" for i in ids]),
        "turn_idx": pa.array(np.zeros(n, np.int32)),
        "role": pa.array(["user"] * n),
        "text": documents["text"],
        "tool": pa.array([""] * n),
        "ts": pa.array(np.full(n, np.datetime64("2025-06-01T00:00:00", "us")),
                       pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    freq = Counter(w for t in documents["text"].to_pylist() for w in t.split()
                   if w not in gen.STOP_HEAD)
    words = sorted(freq, key=lambda w: (-freq[w], w))
    return load(path, gen.query_pool(seed, pool_size, words, len(words), 0.0))
