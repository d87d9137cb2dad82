"""Randomized NLQ cross-tier equivalence fuzz.

A seeded grammar generates NLQ strings spanning the parser's whole
surface — bare terms, column-qualified terms, quoted phrases, boosts,
OR groups, default-conjunction, MustNot exclusions of terms and groups,
and nonexistent tokens — and every query must answer identically
(row ids and scores to 6dp) through the three execution tiers:

  * sequential distributed (`bm25_search`, compile_tree path),
  * batch kernel (`bm25_search_batch`, packed-blob + numpy kernel,
    including its flatten / boost-weight / exclusion-column routes),
  * embedded local (`bm25_search_local`, Spark-free decode + score).

The hand-picked cases in test_batch_search.py / test_negation.py pin
known-tricky shapes; this fuzz sweeps the combination space those
can't enumerate.  The RNG is seeded, so failures reproduce exactly.
"""

import random

import pytest


VOCAB = ["ancient", "empires", "rise", "fall", "moral", "horizons",
         "artistic", "expressions", "humanity", "the", "of",
         "zzznothing"]
COLS = ["col1", "col2", "col3"]


def _gen_atom(rng: random.Random) -> str:
    kind = rng.randrange(5)
    term = rng.choice(VOCAB)
    if kind == 0:
        return term
    if kind == 1:
        return f"{rng.choice(COLS)}:{term}"
    if kind == 2:  # quoted phrase (2 terms; positions-free layout
        #           degrades it to AND identically in every tier)
        return f'"{term} {rng.choice(VOCAB)}"'
    if kind == 3:
        return f"{term}^{rng.choice([2, 3])}"
    return f"{rng.choice(COLS)}:{term}^2"


def _gen_group(rng: random.Random) -> str:
    n = rng.randint(1, 3)
    atoms = [_gen_atom(rng) for _ in range(n)]
    joiner = " OR " if rng.random() < 0.5 else " "
    g = joiner.join(atoms)
    if n > 1 and rng.random() < 0.5:
        g = f"({g})"
        if rng.random() < 0.3:
            g += f"^{rng.choice([2, 3])}"
    return g


def _gen_query(rng: random.Random) -> str:
    parts = [_gen_group(rng) for _ in range(rng.randint(1, 2))]
    q = " ".join(parts) if rng.random() < 0.5 else " OR ".join(parts)
    if rng.random() < 0.35:  # MustNot: term or group
        if rng.random() < 0.5:
            q += f" -{rng.choice(VOCAB)}"
        else:
            q += f" -({rng.choice(VOCAB)} {rng.choice(VOCAB)})"
    return q


def _key(rows):
    return [(r[0], round(r[1], 6)) for r in rows]


class TestNlqFuzz:
    N = 48
    SEED = 20260820

    @pytest.fixture(scope="class")
    def queries(self):
        rng = random.Random(self.SEED)
        qs = [_gen_query(rng) for _ in range(self.N)]
        # guarantee the grammar's corner shapes appear at least once
        qs += ["-ancient",                       # pure negative: empty
               '"ancient empires" -moral^2',
               "(col1:ancient OR col2:ancient OR col3:ancient)^3 -of"]
        return qs

    def test_three_tiers_agree(self, corpus_a_index, queries):
        from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap
        from tantivy_search_spark.search.engine import SearchIndex

        ix = corpus_a_index
        seq = {}
        for q in queries:
            df = ix.bm25_search(q, top_k=5, enable_nlq=True)
            seq[q] = _key([(r["row_id"], r["score"]) for r in df.collect()])

        batch = ix.bm25_search_batch(
            [(q, {}) for q in queries], top_k=5, enable_nlq=True).collect()
        by_q: dict = {i: [] for i in range(len(queries))}
        for r in batch:
            by_q[r["query_id"]].append((r["row_id"], r["score"]))
        for i, q in enumerate(queries):
            assert _key(by_q[i]) == seq[q], f"batch != sequential: {q!r}"

        # alive-filtered pass: the same bitmap on both tiers
        alive = row_ids_to_u8_bitmap([0, 2, 3])
        seq_alive = {}
        for q in queries:
            df = ix.bm25_search(q, top_k=5, enable_nlq=True,
                                alive_bitmap=alive)
            seq_alive[q] = _key([(r["row_id"], r["score"])
                                 for r in df.collect()])

        loc = SearchIndex.open_local(ix.index_path)
        try:
            for q in queries:
                got = _key(loc.bm25_search_local(q, top_k=5,
                                                 enable_nlq=True))
                assert got == seq[q], f"local != sequential: {q!r}"
                got = _key(loc.bm25_search_local(q, top_k=5,
                                                 enable_nlq=True,
                                                 alive_bitmap=alive))
                assert got == seq_alive[q], \
                    f"local != sequential with alive bitmap: {q!r}"
        finally:
            loc.close()

        # WAND tier: use_wand routes WAND-able trees through the
        # block-max path and must fall back transparently elsewhere
        for q in queries[::4]:  # every 4th — keeps CI time bounded
            got = _key([(r["row_id"], r["score"]) for r in
                        ix.bm25_search(q, top_k=5, enable_nlq=True,
                                       use_wand=True).collect()])
            assert got == seq[q], f"wand != sequential: {q!r}"

    def test_some_queries_nonempty(self, corpus_a_index, queries):
        # the fuzz is vacuous if the grammar only produces no-hit
        # queries; corpus A is tiny, so most must match something
        ix = corpus_a_index
        nonempty = sum(
            1 for q in queries
            if ix.bm25_search(q, top_k=5, enable_nlq=True).count())
        assert nonempty >= len(queries) // 2
