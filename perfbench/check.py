"""Output checks.  Every timed answer is compared with an oracle; a
mismatch counts as one failed operation.

- top-k answers against ``pulse_spark.oracle.search``: same length,
  scores equal to 1e-9 rank by rank, and each group of tied scores holds
  the same doc_nos (the last group may be cut by k, so its doc_nos need
  only be a subset of the oracle's group);
- headline operator outputs against value hashes of the DuckDB
  ``oracle_sql()`` answers (see expected.py);
- index manifests against row counts derived from the generator's input
  and the oracle index.

``python3 perfbench/check.py`` runs the planted-fault self-test.
"""

from __future__ import annotations

import hashlib

SCORE_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(a), abs(b))


def same_topk(got: list[tuple[str, float]], ranked: list[tuple[str, float]],
              k: int) -> bool:
    """got: the engine's top-k (doc_no, score) in rank order.  ranked:
    the oracle's full ranking (every candidate, best first)."""
    want = ranked[:k]
    if len(got) != len(want):
        return False
    if not all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(got):
        j = i
        while j < len(got) and _close(got[j][1], got[i][1]):
            j += 1
        got_docs = {d for d, _ in got[i:j]}
        if j < len(got):
            ok = got_docs == {d for d, _ in want[i:j]}
        else:  # last group: may continue past k in the oracle's ranking
            tied = {d for d, s in ranked[i:] if _close(s, got[i][1])}
            ok = got_docs <= tied
        if not ok:
            return False
        i = j
    return True


def needed(ranked: list[tuple[str, float]], k: int) -> list[tuple[str, float]]:
    """The part of an oracle ranking same_topk reads: the top k and every
    later candidate tied with the k-th score."""
    j = min(k, len(ranked))
    while j < len(ranked) and _close(ranked[j][1], ranked[k - 1][1]):
        j += 1
    return ranked[:j]


def _norm(v):
    if isinstance(v, float):
        v = round(v, 5) + 0.0  # + 0.0 folds -0.0 into 0.0
    return v


def value_hash(cols: list[str], rows: list) -> dict:
    """Order-insensitive hash of a result set: columns by name, floats
    rounded to 5 digits, rows sorted by their text form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))
    h = hashlib.sha256()
    for t in norm:
        h.update(repr(t).encode())
        h.update(b"\n")
    return {"cols": sorted(cols), "rows": len(norm), "sha256": h.hexdigest()}


def segment_blocks(doc_ids: dict[str, int], oracle_index, range_size: int,
                   block_size: int) -> int:
    """Segment rows the build must write: one block per block_size
    postings of a term inside one doc_range."""
    from collections import Counter

    total = 0
    for plist in oracle_index.postings.values():
        per_range = Counter(doc_ids[d] // range_size for d in plist)
        total += sum(-(-n // block_size) for n in per_range.values())
    return total


def manifest_errors(manifest: dict, expected: dict) -> list[str]:
    """Compare the manifest's committed row counts with expected
    {stage: rows}; returns one message per mismatch."""
    errs = []
    for stage, rows in expected.items():
        got = manifest.get("stages", {}).get(stage, {}).get("rows")
        if got != rows:
            errs.append(f"{stage}: manifest rows {got}, expected {rows}")
    return errs


def selftest() -> bool:
    """Planted faults must fail and the clean inputs must pass."""
    ranked = [("c1:0", 3.0), ("c2:0", 2.0), ("c3:0", 2.0), ("c4:0", 1.0),
              ("c5:0", 1.0)]
    clean = [("c1:0", 3.0), ("c3:0", 2.0), ("c2:0", 2.0), ("c5:0", 1.0)]
    swapped = [("c2:0", 3.0), ("c1:0", 2.0), ("c3:0", 2.0), ("c4:0", 1.0)]
    rows = [(1, "a", 0.5), (2, "b", 0.25)]
    corrupt = [(1, "a", 0.5), (2, "b", 0.2501)]
    base = value_hash(["id", "t", "x"], rows)
    return (same_topk(clean, ranked, 4)
            and same_topk(clean, needed(ranked, 4), 4)
            and not same_topk(swapped, ranked, 4)
            and value_hash(["t", "id", "x"], [(r[1], r[0], r[2]) for r in rows]) == base
            and value_hash(["id", "t", "x"], corrupt) != base)


if __name__ == "__main__":
    ok = selftest()
    print("self-test", "passed: planted faults were caught" if ok else "FAILED")
    raise SystemExit(0 if ok else 1)
