"""Seeded corpus parameters and the workloads' request streams.

Every query is built from the corpus generator's own vocabulary model,
never from index output: the generator (``codecorpus.synth_code_corpus``
with ``ident_frac > 0``) mixes a fixed keyword pool with identifiers
``v0 .. v{ident_vocab-1}`` whose frequency falls with their rank
(identifier ``r`` has density proportional to ``1/sqrt(r)``).  So low
ranks are head terms that every run finds in hundreds of documents, and
high ranks are tail terms with a handful of postings each.  A change to
the index can therefore never change which requests a seed produces.
"""

from __future__ import annotations

import bisect
import random
from typing import NamedTuple

#: corpus shape (``synth_code_corpus`` arguments); ``ident_vocab`` scales
#: with the document count so the tail stays a few postings per term
N_DOCS = 4000
MIN_TOKENS = 10
MAX_TOKENS = 400
IDENT_FRAC = 0.35
IDENT_PER_DOC = 5

#: identifier ranks at and above this are the tail
HEAD_RANKS = 256
#: embedded-churn: distinct queries (~1.7 tail identifiers each, so about
#: 5.6k distinct terms: more than the 4096-entry postings and score LRUs hold)
CHURN_QUERIES = 4096
CHURN_ZIPF_S = 1.0
DELETE_EVERY = 100
DELETE_IDS = 20
#: cluster-batch: queries per bm25_search_batch job
BATCH_SIZE = 200
#: answers from the other tier are fetched this deep (twice the largest
#: top_k), so an answer can still be checked after deletes or the alive
#: filter removed some of the other tier's rows
K_DEEP = 200

#: the generator's keyword pool, lowercased as the default analyzer
#: does; ``and``/``or``/``not``/``in`` are left out because NLQ treats
#: some of them as operators
KEYWORDS = [
    "if", "return", "def", "for", "self", "import", "the", "none", "else",
    "class", "while", "try", "except", "lambda", "yield", "assert",
    "raise", "print", "len", "range", "data", "value", "result", "index",
    "key", "node", "count", "buffer", "stream", "parse", "token", "hash",
    "merge", "split", "append", "update", "config", "error", "state",
    "next", "init", "args", "kwargs", "path", "file", "line", "char",
    "byte", "width", "height", "offset", "limit", "query", "field",
    "score", "sort", "filter", "reduce", "map", "zip", "enumerate",
    "isinstance", "true", "false",
]


class Query(NamedTuple):
    text: str
    op_or: bool = False
    nlq: bool = False
    wand: bool = False
    top_k: int = 10
    #: apply the run's alive bitmap
    filtered: bool = False

    @property
    def ranking(self) -> tuple:
        """Key of the unfiltered ranking this query's answer is a prefix
        of: WAND, top_k and the alive filter never change the order."""
        return (self.text, self.op_or, self.nlq)


class Delete(NamedTuple):
    row_ids: tuple


def ident_vocab(n_docs: int) -> int:
    return IDENT_PER_DOC * n_docs


def _ident(rng: random.Random, lo: int, hi: int) -> str:
    return f"v{rng.randrange(lo, hi)}"


def _ident_by_frequency(rng: random.Random, vocab: int) -> str:
    """An identifier drawn the way the generator draws them."""
    u = rng.random()
    return f"v{int(u * u * vocab)}"


def churn_universe(seed: int, n_docs: int) -> list[Query]:
    """embedded-churn: distinct queries over keywords and tail
    identifiers, most popular first (the stream draws rank r with weight
    1/(r+1)).  Six shapes, each taking a different in-process path:
    flat OR / AND, 3-term ``use_wand`` (answered term-at-a-time: the
    in-process block-max scorer is only reached with an alive bitmap,
    and there it raises on this program), nested NLQ (boost, OR group,
    ``-term``), alive-bitmap filtered, and top-100.  The shape follows
    from the rank alone, so every seed puts the same shapes at the
    popular ranks and only the terms change."""
    rng = random.Random(f"churn:{seed}")
    vocab = ident_vocab(n_docs)
    lo = min(HEAD_RANKS, vocab // 2)
    out: dict[Query, None] = {}
    while len(out) < CHURN_QUERIES:
        r = len(out)
        kw, kw2 = rng.sample(KEYWORDS, 2)
        a, b, c = (_ident(rng, lo, vocab) for _ in range(3))
        shape, variant = r % 10, (r // 10) % 6
        if shape < 4:
            q = Query(f"{a} {b}", op_or=True)
        elif shape < 6:
            q = Query(f"{kw} {a}")
        elif shape == 6:
            q = Query(f"{kw} {a} {b}", op_or=variant % 2 == 0, wand=True)
        elif shape == 7:
            q = Query([f"({a} OR {b}) {kw}^2 -{c}",
                       f"{a}^1.5 ({kw} OR {b}) -{c}",
                       f"({kw} OR {kw2}) ({a} OR {b})^2 -{c}"][variant % 3],
                      nlq=True)
        elif shape == 8:
            q = Query(f"{kw} {a}", op_or=variant % 2 == 0, filtered=True)
        else:
            q = Query(f"{kw} {a}", op_or=True, top_k=100)
        out[q] = None
    return list(out)


def first_delete(seed: int, n_docs: int) -> tuple:
    """embedded-churn: the untimed delete made before the window."""
    rng = random.Random(f"churn-first-delete:{seed}")
    return tuple(sorted(rng.sample(range(n_docs), DELETE_IDS)))


def churn_stream(seed: int, universe: list[Query], n_docs: int):
    """Zipf draws over the universe; every DELETE_EVERY-th op deletes
    DELETE_IDS ids that are still alive (none of ``first_delete``'s)."""
    rng = random.Random(f"churn-stream:{seed}")
    cum, total = [], 0.0
    for r in range(len(universe)):
        total += 1.0 / (r + 1) ** CHURN_ZIPF_S
        cum.append(total)
    gone = set(first_delete(seed, n_docs))
    alive = [i for i in range(n_docs) if i not in gone]
    rng.shuffle(alive)
    i = 0
    while True:
        i += 1
        if i % DELETE_EVERY == 0 and len(alive) >= DELETE_IDS:
            yield Delete(tuple(sorted(alive.pop() for _ in range(DELETE_IDS))))
        else:
            yield universe[bisect.bisect_left(cum, rng.random() * total)]


def cluster_queries(seed: int, n_docs: int, n: int) -> list[Query]:
    """cluster-batch: keyword AND / OR identifier and identifier-pair OR
    queries, identifiers drawn by corpus frequency, shapes in a fixed
    rotation; distinct, so every single query plans afresh."""
    rng = random.Random(f"cluster:{seed}")
    vocab = ident_vocab(n_docs)
    out: dict[Query, None] = {}
    while len(out) < n:
        shape = len(out) % 3
        a, b = _ident_by_frequency(rng, vocab), _ident_by_frequency(rng, vocab)
        if shape < 2:
            q = Query(f"{rng.choice(KEYWORDS)} {a}", op_or=shape == 1)
        else:
            q = Query(f"{a} {b}", op_or=True)
        out[q] = None
    return list(out)


def alive_ids(seed: int, n_docs: int) -> list[int]:
    """Row ids the filtered queries' alive bitmap keeps (about half)."""
    rng = random.Random(f"alive:{seed}")
    return sorted(i for i in range(n_docs) if rng.random() < 0.5)


def delete_batches(seed: int, n_docs: int, n: int) -> list[tuple]:
    """Ids for the deletes cluster-batch times after its window."""
    rng = random.Random(f"epilogue:{seed}")
    ids = rng.sample(range(n_docs), min(n * DELETE_IDS, n_docs))
    return [tuple(sorted(ids[i * DELETE_IDS:(i + 1) * DELETE_IDS]))
            for i in range(n)]
