"""Result checks against the pure-Python oracle (tests/oracle.py)."""

from __future__ import annotations

import oracle

SCORE_TOL = 1e-6


def expected_topk(index: "oracle.OracleIndex", query: str, id_of: dict,
                  k: int = 10) -> list:
    """Oracle top-k as [(doc_id, score)] in engine doc ids.

    ``id_of`` maps url -> engine doc_id: the engine's ids need not be the
    oracle's dense url rank (streamed batches take ids from their own
    range), so the full oracle ranking is re-cut with the engine ids as
    the (score DESC, doc_id ASC) tie-break."""
    ranked = oracle.search(index, query, k=index.n_docs)
    return sorted(((id_of[url], s) for _, _, url, s in ranked),
                  key=lambda r: (-r[1], r[0]))[:k]


def same_topk(got: list, want: list, tol: float = SCORE_TOL) -> bool:
    """Rank-identical doc ids and scores within ``tol``."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= tol
        for (gd, gs), (wd, ws) in zip(got, want))


def count_mismatches(results: list, index, id_of: dict, k: int = 10) -> int:
    """results: [(query, [(doc_id, score), ...])] in engine rank order."""
    return sum(not same_topk(got, expected_topk(index, q, id_of, k))
               for q, got in results)
