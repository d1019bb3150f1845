"""Seeded input generators.  The program under test sees only the files
these functions write; the same seed always gives the same bytes.

- transcripts: the BASELINE schema (conv_id, turn_idx, role, text, tool,
  ts), Zipf text over a vocabulary whose long tail is many times larger
  than PointServer's 4 096-term block cache;
- query pool: 1-4 terms per query, a mix of BM25, BM25-conjunctive and
  TFIDF; hot terms drawn Zipf, a share of rare terms drawn uniformly
  from the long tail;
- headline tables: a seeded row permutation of the sf0.1 documents,
  events and embeddings tables kept under data/sf0.1, written once per
  headline pass under a new path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A handful of English stopwords (the program drops them) ahead of
# domain words, then a synthetic tail.  Tail words are a letter plus
# digits, which the tokenizer keeps and the Porter stemmer leaves alone.
STOP_HEAD = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "this", "be", "at", "by", "from", "or", "an"]
DOMAIN = [
    "spark", "shuffle", "executor", "partition", "parquet", "index", "query",
    "ranking", "posting", "lexicon", "segment", "block", "cache", "driver",
    "kernel", "cluster", "deploy", "error", "trace", "token", "schema",
    "merge", "join", "window", "filter", "vector", "stream", "batch",
    "table", "column", "latency", "throughput", "benchmark", "pipeline",
    "checkpoint", "lineage", "compression", "varint", "scorer", "heap",
]
EDGE = ["café", "naïve", "C++", "x=y+1", "<p>", "don't", "UPPER", "foo_bar"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["", "", "", "bash", "search", "editor", "browser"]


def vocabulary(tail: int) -> list[str]:
    """Content words in Zipf rank order (rank 0 is the most frequent)."""
    return DOMAIN + [f"z{i:05d}" for i in range(tail)]


def _zipf_ranks(rng: np.random.Generator, n: int, v: int) -> np.ndarray:
    """Ranks in [0, v) with P(r) proportional to 1/(r+1): floor(v**u)."""
    return np.minimum(np.floor(np.power(float(v), rng.random(n))).astype(np.int64) - 1,
                      v - 1).clip(0)


def transcripts(path: str, seed: int, n_convs: int, tail: int) -> dict:
    """Write one parquet file of transcripts; returns its counts.

    ~4.5 turns per conversation, 0-40 words per turn: 35% stopwords, the
    rest Zipf over vocabulary(tail), 1% edge tokens, plus leading and
    trailing whitespace on some turns (doc_len counts trimmed bytes)."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(vocabulary(tail), dtype=object)
    n_turns = rng.integers(1, 9, n_convs)
    total = int(n_turns.sum())
    n_words = rng.integers(0, 41, total)
    n_tok = int(n_words.sum())
    words = vocab[_zipf_ranks(rng, n_tok, len(vocab))]
    stop = rng.random(n_tok) < 0.35
    words[stop] = np.array(STOP_HEAD, dtype=object)[
        rng.integers(0, len(STOP_HEAD), int(stop.sum()))]
    edge = rng.random(n_tok) < 0.01
    words[edge] = np.array(EDGE, dtype=object)[
        rng.integers(0, len(EDGE), int(edge.sum()))]
    ends = np.cumsum(n_words)
    starts = ends - n_words
    pad = rng.random((total, 2))
    texts = []
    for i in range(total):
        t = " ".join(words[starts[i]:ends[i]])
        if pad[i, 0] < 0.1:
            t = "  " + t
        if pad[i, 1] < 0.1:
            t = t + " \t"
        texts.append(t)
    conv = np.repeat(np.arange(n_convs), n_turns)
    turn = np.concatenate([np.arange(k) for k in n_turns]).astype(np.int32)
    ts = (np.datetime64("2025-06-01T00:00:00", "us")
          + (conv * 60 + turn * 30).astype("timedelta64[s]"))
    table = pa.table({
        "conv_id": pa.array([f"c{c:07d}" for c in conv], pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array([ROLES[r] for r in rng.integers(0, 4, total)], pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array([TOOLS[r] for r in rng.integers(0, len(TOOLS), total)],
                         pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"turns": total, "text_bytes": int(sum(len(t.encode()) for t in texts))}


@dataclass(frozen=True)
class Query:
    text: str
    metric: str          # "BM25" or "TFIDF"
    conjunctive: bool


def query_pool(seed: int, n: int, vocab: list[str], hot: int,
               p_tail: float) -> list[Query]:
    """n queries: 50% BM25 disjunctive, 25% BM25 conjunctive, 25% TFIDF.
    A disjunctive query has 1-4 draws; each draw is, with probability
    p_tail, a word drawn uniformly from vocab[hot:], else a word drawn
    Zipf(1) from the `hot` most frequent ones.  Conjunctive queries take
    1-2 hot words, so that most of them have matches."""
    rng = np.random.default_rng([seed, 2])
    w = 1.0 / np.arange(1, hot + 1, dtype=np.float64)
    kinds = rng.random(n)
    ks = rng.integers(1, 5, n)
    hot_r = rng.choice(hot, size=(n, 4), p=w / w.sum())
    tail_r = rng.integers(hot, max(len(vocab), hot + 1), (n, 4))
    ranks = np.where(rng.random((n, 4)) < p_tail, tail_r, hot_r)
    out = []
    for kind, k, hr, r in zip(kinds, ks, hot_r, ranks):
        if kind < 0.25:
            text = " ".join(vocab[i] for i in np.unique(hr[:min(k, 2)]))
            out.append(Query(text, "BM25", True))
            continue
        text = " ".join(vocab[i] for i in np.unique(r[:k]))
        out.append(Query(text, "BM25" if kind < 0.75 else "TFIDF", False))
    return out


BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
HEADLINE_TABLES = ("documents", "events", "embeddings")


def base_tables() -> dict[str, pa.Table]:
    """The three sf0.1 tables bench.py's nine headline operators read."""
    return {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet"))
            for t in HEADLINE_TABLES}


def write_permuted(tables: dict[str, pa.Table], out_dir: str, seed: int) -> str:
    """Write every table as a new seeded row permutation under out_dir.
    Operator answers do not depend on row order, so each copy has the
    same expected answers and the program gets a path it has not seen."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
