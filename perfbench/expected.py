"""Expected answers for the headline workload.

The headline passes run over row permutations of the sf0.1 documents,
events and embeddings tables in data/sf0.1; the operators' answers do
not depend on row order, so the DuckDB ``oracle_sql()`` value hashes of
those tables are the expected answers of every pass.  They are computed
once by this script (about a minute of DuckDB work) and kept in
expected_headline.json beside it.

    python3 perfbench/expected.py     # rewrite expected_headline.json
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PATH = os.path.join(HERE, "expected_headline.json")

# bench.py's HEADLINE list (kept here so a change there is a visible
# benchmark change, not a silent one)
HEADLINE = [
    "bm25_topk", "bm25_conjunctive_topk", "tfidf_topk", "term_df",
    "corpus_stats", "minhash_lsh_pairs", "cosine_topk", "text_quality",
    "events_sessions",
]


def load() -> dict:
    with open(PATH) as f:
        return json.load(f)


def compute() -> dict:
    import duckdb

    import __spark_entry__ as entry
    import gen
    from check import value_hash

    sqls = entry.oracle_sql()
    out = {"ops": {}}
    con = duckdb.connect()
    for t in gen.HEADLINE_TABLES:
        path = os.path.join(gen.BASE_DIR, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for name in HEADLINE:
        res = con.sql(sqls[name])
        out["ops"][name] = value_hash([c[0] for c in res.description], res.fetchall())
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    exp = compute()
    with open(PATH, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PATH}: {len(exp['ops'])} operators")
