"""Answer checks: every answer, plus a seeded sample against the other tier.

Each answer must be in (score desc, row id asc) order, hold at most k
rows, and contain no row id deleted before the op started (nor, for a
filtered query, one the alive bitmap drops).  Queries in the sample are
also compared with the answer the other tier gave during set-up
(embedded against distributed, or the reverse): ids equal and scores
equal to 3 decimals.  Deletes and the alive filter only remove rows —
BM25 statistics count tombstoned documents, as in the reference — so
the expected answer is the other tier's deep answer with those rows
taken out, cut to k.
"""

from __future__ import annotations

from queries import K_DEEP, Query

SCORE_TOL = 5e-4


class Checker:
    def __init__(self, expected: dict[tuple, list[tuple[int, float]]],
                 alive: set[int] | None = None):
        #: ranking key -> deep answer from the other tier
        self.expected = expected
        self.alive = alive
        self.deleted: set[int] = set()
        self.cross_checked = 0

    def check(self, q: Query, rows: list[tuple[int, float]]) -> str | None:
        """None if the answer is right, else what is wrong with it."""
        if len(rows) > q.top_k:
            return f"{len(rows)} rows for top_k={q.top_k}"
        for (i0, s0), (i1, s1) in zip(rows, rows[1:]):
            if s1 > s0 or (s1 == s0 and i1 <= i0):
                return f"order broken at ({i0}, {s0}) -> ({i1}, {s1})"
        ids = [i for i, _ in rows]
        if self.deleted.intersection(ids):
            return "returned a deleted row id"
        if q.filtered and not self.alive.issuperset(ids):
            return "returned a row id the alive bitmap drops"
        deep = self.expected.get(q.ranking)
        if deep is None:
            return None
        want = [(i, s) for i, s in deep if i not in self.deleted
                and (not q.filtered or i in self.alive)][:q.top_k]
        if len(want) < q.top_k and len(deep) >= K_DEEP:
            return None  # the deep answer ran out: cannot tell
        self.cross_checked += 1
        if [i for i, _ in want] != ids:
            return f"ids differ from the other tier: {ids[:5]} vs " \
                   f"{[i for i, _ in want][:5]}"
        for (_, s), (_, w) in zip(rows, want):
            if abs(s - w) > SCORE_TOL:
                return f"score {s} vs {w} from the other tier"
        return None


def corrupt(rows: list[tuple[int, float]], top_k: int
            ) -> list[tuple[int, float]]:
    """A wrong answer for the self-test: padded past k rows."""
    return rows + [(-1, 0.0)] * (top_k + 1 - len(rows))
