"""Result checks shared by the measured calls and the traced layer calls.

Paths sum a doc's term scores in different orders, so docs whose scores
are equal within 1e-9 can differ in the last bit and come out in either
order. Every comparison here treats such docs as tied.
"""

from __future__ import annotations

import math
import sys


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def close(x: float, y: float) -> bool:
    return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)


def by_query(rows) -> dict:
    """Result rows as {query_id: [(rank, doc_id, url, score)] by rank}."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["url"], r["score"]))
    for v in out.values():
        v.sort()
    return out


def same_rows(a: list, b: list, k: int) -> bool:
    """Two top-k lists of (rank, doc_id, url, score) agree: scores equal
    within 1e-9 rank by rank, and the same (doc_id, url) at every rank,
    except that within a run of tied ranks the docs must be the same set,
    and a run of ties reaching rank k may hold different docs (which of
    several tied docs makes the cut)."""
    if len(a) != len(b) or not all(
            x[0] == y[0] and close(x[3], y[3]) for x, y in zip(a, b)):
        return False
    s = 0
    while s < len(b):
        e = s + 1
        while e < len(b) and close(b[e][3], b[e - 1][3]):
            e += 1
        docs_a = sorted(x[1:3] for x in a[s:e])
        docs_b = sorted(y[1:3] for y in b[s:e])
        if docs_a != docs_b and (e < len(b) or len(b) < k):
            return False
        s = e
    return True


def same_topk(a: list, b: list, k: int) -> bool:
    """same_rows for a kernel's [(doc_id, score)] lists."""
    def rows(lst):
        return [(i + 1, d, "", s) for i, (d, s) in enumerate(lst)]
    return same_rows(rows(a), rows(b), k)


def same_as(want: dict, qids, k: int):
    """Check: rows equal ``want`` (by_query form) for every query in qids."""
    def check(rows) -> bool:
        got = by_query(rows)
        bad = [q for q in qids if not same_rows(got.get(q, []),
                                                want.get(q, []), k)]
        if bad:
            log(f"query {bad[0]}: got {got.get(bad[0])}, "
                f"expected {want.get(bad[0])}")
        return not bad
    return check
