"""Result checker: every engine answer against ``dts.oracle.OracleIndex``.

Expectations are JSON-shaped (query ids as strings) so they can be cached
between runs of one seed:

- top-k: ``{qid: [[doc_id, score], ...]}`` in rank order;
- match counts: ``{qid: n_matches}``.

A top-k answer is correct when, for every query, the returned ranks are
1..n with the expected doc_id at each rank and a score within ``SCORE_TOL``.
A count answer is correct when every query's count is equal.
"""

from __future__ import annotations

from dts.oracle import OracleIndex
from dts.tokenizer import tokenize_text

SCORE_TOL = 1e-9


def expected_topk(
    oracle: OracleIndex, queries, k: int, deleted: set[int] | None = None
) -> dict[str, list[list]]:
    """Oracle top-k per query. With ``deleted``, the full-stats ranking
    with tombstoned docs masked before truncation (the engine's semantics
    between a delete and the next compaction)."""
    out = {}
    for q in queries.itertuples():
        if deleted:
            ranked = [
                (d, s)
                for _, d, s in oracle.score_query(q.text, int(q.fuzzy_k), 10**9)
                if d not in deleted
            ][:k]
        else:
            ranked = [
                (d, s) for _, d, s in oracle.score_query(q.text, int(q.fuzzy_k), k)
            ]
        out[str(q.query_id)] = [[int(d), float(s)] for d, s in ranked]
    return out


def expected_counts(oracle: OracleIndex, queries) -> dict[str, int]:
    """Per query, matching token positions summed over its tokens."""
    return {
        str(q.query_id): int(
            sum(
                sum(oracle.match_counts(t, int(q.fuzzy_k)).values())
                for t in tokenize_text(q.text)
            )
        )
        for q in queries.itertuples()
    }


def topk_mismatch(rows, expected: dict[str, list[list]]) -> str | None:
    """First difference between engine rows (query_id, doc_id, score, rank)
    and the expectation, or None when rank-identical."""
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(str(r[0]), []).append((int(r[3]), int(r[1]), float(r[2])))
    for qid in sorted(set(got) | set(expected), key=int):
        g = sorted(got.get(qid, []))
        want = expected.get(qid, [])
        if [rank for rank, _, _ in g] != list(range(1, len(g) + 1)):
            return f"query {qid}: ranks {[rank for rank, _, _ in g]}"
        if len(g) != len(want):
            return f"query {qid}: {len(g)} rows, expected {len(want)}"
        for (rank, doc, score), (wdoc, wscore) in zip(g, want):
            if doc != wdoc:
                return f"query {qid} rank {rank}: doc {doc}, expected {wdoc}"
            if abs(score - wscore) > SCORE_TOL:
                return f"query {qid} rank {rank}: score {score!r}, expected {wscore!r}"
    return None


def counts_mismatch(rows, expected: dict[str, int]) -> str | None:
    """First difference between engine rows (query_id, n_matches) and the
    expectation, or None when equal."""
    got = {str(r[0]): int(r[1]) for r in rows}
    if set(got) != set(expected):
        return f"query ids {sorted(set(got) ^ set(expected), key=int)} differ"
    for qid in sorted(expected, key=int):
        if got[qid] != expected[qid]:
            return f"query {qid}: {got[qid]} matches, expected {expected[qid]}"
    return None


class Checker:
    """Counts attempted and failed operations; keeps the first failures."""

    MAX_KEPT = 20

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, op: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is None:
            return True
        self.failed += 1
        if len(self.failures) < self.MAX_KEPT:
            self.failures.append(f"{op}: {problem}")
        return False

    def error(self, op: str, exc: BaseException) -> None:
        """An operation that raised: a failure like a wrong result."""
        self.record(op, f"raised {type(exc).__name__}: {exc}")
