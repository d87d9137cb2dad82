"""Block-max WAND path == exact path (top-k ids and scores), on a corpus
big enough that pruning actually skips blocks (multi-block postings)."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def big_index(spark, tmp_path_factory):
    from tantivy_search_spark.config import IndexConfig
    from tantivy_search_spark.index.builder import IndexBuilder
    from tantivy_search_spark.search.engine import SearchIndex

    vocab = ("spark join order window scan merge hash sort group filter the "
             "fast slow big small table row batch stream value").split()
    rng = np.random.default_rng(42)
    rows = []
    for i in range(3000):
        n = int(rng.integers(5, 60))
        words = rng.choice(vocab, size=n,
                           p=np.linspace(2.0, 0.5, len(vocab))
                           / np.linspace(2.0, 0.5, len(vocab)).sum())
        rows.append({"doc_id": i, "text": " ".join(words)})
    df = spark.createDataFrame(rows)
    path = str(tmp_path_factory.mktemp("wand") / "idx")
    cfg = IndexConfig.from_json(["text"], "{}")
    cfg.parts_per_shard = 2
    cfg.block_size = 64  # small blocks -> many blocks -> pruning happens
    IndexBuilder(spark, path, cfg, rows_per_part=500).build(df, id_col="doc_id")
    return SearchIndex(spark, path)


def both(ix, sentence, **kw):
    """Round to 6dp and re-sort (score desc, row_id) so float-summation
    order differences between the JVM agg and numpy paths can't flip
    ties; the boundary tie group is compared as a set."""
    exact = sorted(((r["row_id"], round(r["score"], 6)) for r in
                    ix.bm25_search(sentence, **kw).collect()),
                   key=lambda x: (-x[1], x[0]))
    wand = sorted(((r["row_id"], round(r["score"], 6)) for r in
                   ix.bm25_search(sentence, use_wand=True, **kw).collect()),
                  key=lambda x: (-x[1], x[0]))
    return exact, wand


def assert_topk_equal(exact, wand):
    assert [s for _, s in exact] == [s for _, s in wand]
    if not exact:
        return
    cut = exact[-1][1]  # lowest score: its tie group may differ at the cut
    assert {i for i, s in exact if s != cut} == {i for i, s in wand if s != cut}


QUERIES = [
    ("spark join", dict(top_k=10, operator_or=True)),
    ("spark join", dict(top_k=10, operator_or=False)),
    ("the window value", dict(top_k=25, operator_or=True)),
    ("the window value", dict(top_k=25, operator_or=False)),
    ("scan merge hash sort", dict(top_k=100, operator_or=True)),
    ("nonexistent_term", dict(top_k=10, operator_or=True)),
    ("spark nonexistent_term", dict(top_k=10, operator_or=False)),
]


@pytest.mark.parametrize("sentence,kw", QUERIES)
def test_wand_equals_exact(big_index, sentence, kw):
    exact, wand = both(big_index, sentence, **kw)
    assert_topk_equal(exact, wand)


def test_wand_with_alive_filter(big_index):
    from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap
    alive = row_ids_to_u8_bitmap(list(range(0, 3000, 7)))
    exact, wand = both(big_index, "spark join order",
                       top_k=20, operator_or=True, alive_bitmap=alive)
    assert_topk_equal(exact, wand)
    assert all(r % 7 == 0 for r, _ in wand)


def test_wand_after_delete(big_index):
    big_index.delete_row_ids([r for r, _ in
                              both(big_index, "spark", top_k=3,
                                   operator_or=True)[0]])
    exact, wand = both(big_index, "spark join order", top_k=15,
                       operator_or=True)
    assert_topk_equal(exact, wand)


def test_wand_large_delete_set_cogroup(big_index):
    """Past the broadcast cap, tombstones ride the per-shard cogroup
    and WAND stays active (round-2 behavior was to disable pruning).
    Cap forced to 0 so the small test delete set exercises exactly the
    large-set code path."""
    old = big_index.TOMBSTONE_BROADCAST_MAX
    big_index.TOMBSTONE_BROADCAST_MAX = 0
    big_index._tombstones = None  # drop materialized cache
    try:
        assert big_index._tombstone_small_array() is None
        exact, wand = both(big_index, "spark join order", top_k=15,
                           operator_or=True)
        assert_topk_equal(exact, wand)
        deleted = {r["doc_id"] for r in
                   big_index._tombstone_df().collect()}
        assert deleted and not ({r for r, _ in wand} & deleted)
    finally:
        big_index.TOMBSTONE_BROADCAST_MAX = old
        big_index._tombstones = None


def test_wand_large_delete_set_legacy_meta(big_index):
    """part_ranges=None (pre-part_ranges meta layout) + an over-cap
    delete set: the cogrouped tier can't map tombstones to shards, so
    the WAND path must fall back to shipping the full tombstone array
    instead of raising TypeError (ADVICE r3)."""
    old_cap = big_index.TOMBSTONE_BROADCAST_MAX
    old_ranges = big_index.meta.part_ranges
    big_index.TOMBSTONE_BROADCAST_MAX = 0
    big_index.meta.part_ranges = None
    big_index._tombstones = None
    try:
        assert big_index._tombstone_small_array() is None
        exact, wand = both(big_index, "spark join order", top_k=15,
                           operator_or=True)
        assert_topk_equal(exact, wand)
    finally:
        big_index.TOMBSTONE_BROADCAST_MAX = old_cap
        big_index.meta.part_ranges = old_ranges
        big_index._tombstones = None


def test_wand_nlq_flat_or(big_index):
    """Flat-OR NLQ trees route through WAND (round-3 extension) and
    match the exact path."""
    exact, wand = both(big_index, "text:spark OR text:join OR window",
                       top_k=20, operator_or=True, enable_nlq=True)
    assert_topk_equal(exact, wand)


def test_wand_plan_shapes(big_index):
    """Boosts / MustNot / phrases refuse the WAND plan."""
    import tantivy_search_spark.search.querytree as qt
    an = big_index._analyzers()
    cols = big_index.config.columns

    def plan(sentence, **kw):
        tree = qt.parse_nlq(sentence, cols, an, **kw)
        return big_index._wand_plan(tree, qt.collect_atoms(tree))

    flat = plan("spark OR join", conjunction_by_default=False)
    assert flat is not None and flat[1] is False
    assert plan("spark^2 OR join", conjunction_by_default=False) is None
    assert plan("spark -join", conjunction_by_default=False) is None
    tree = qt.standard_query_tree({"text": ["spark", "join"]}, False)
    and_plan = big_index._wand_plan(tree, qt.collect_atoms(tree))
    assert and_plan == ([("text", "spark"), ("text", "join")], True)


@pytest.fixture(scope="module")
def two_col_index(spark, tmp_path_factory):
    from tantivy_search_spark.config import IndexConfig
    from tantivy_search_spark.index.builder import IndexBuilder
    from tantivy_search_spark.search.engine import SearchIndex

    vocab = ("spark join order window scan merge hash sort group "
             "filter the fast slow").split()
    rng = np.random.default_rng(7)
    rows = []
    for i in range(1500):
        t = rng.choice(vocab, size=int(rng.integers(2, 6)))
        b = rng.choice(vocab, size=int(rng.integers(10, 50)))
        rows.append({"doc_id": i, "title": " ".join(t),
                     "body": " ".join(b)})
    df = spark.createDataFrame(rows)
    path = str(tmp_path_factory.mktemp("wand2") / "idx")
    cfg = IndexConfig.from_json(["title", "body"], "{}")
    cfg.parts_per_shard = 2
    cfg.block_size = 64
    IndexBuilder(spark, path, cfg, rows_per_part=300).build(
        df, id_col="doc_id")
    return SearchIndex(spark, path)


def test_wand_multicol_or(two_col_index):
    """Multi-column OR prunes with per-column block-max bounds and
    matches the exact path (round-3 extension)."""
    exact, wand = both(two_col_index, "spark join order",
                       top_k=20, operator_or=True)
    assert_topk_equal(exact, wand)
    # and the plan really is the multi-column WAND shape
    import tantivy_search_spark.search.querytree as qt
    an = two_col_index._analyzers()
    tree = qt.standard_query_tree(
        {c: an[c]("spark join") for c in ("title", "body")}, True)
    plan = two_col_index._wand_plan(tree, qt.collect_atoms(tree))
    assert plan is not None and plan[1] is False
    assert set(plan[0]) == {("title", "spark"), ("title", "join"),
                            ("body", "spark"), ("body", "join")}


def test_wand_multicol_and_falls_back(two_col_index):
    """Multi-column AND is not WAND-able; results still equal because
    both sides take the exact path."""
    import tantivy_search_spark.search.querytree as qt
    an = two_col_index._analyzers()
    tree = qt.standard_query_tree(
        {c: an[c]("spark join") for c in ("title", "body")}, False)
    assert two_col_index._wand_plan(tree, qt.collect_atoms(tree)) is None
    exact, wand = both(two_col_index, "spark join",
                       top_k=10, operator_or=False)
    assert_topk_equal(exact, wand)


def test_duplicate_atom_and_falls_back_to_exact(spark, corpus_a_index):
    """Round-5 fuzz regression: a repeated-word phrase degraded to AND
    on the positions-free layout carries the same (col, term) atom
    twice; the exact path scores each occurrence, so the WAND plan must
    fall back rather than dedup (which halved scores)."""
    ix = corpus_a_index
    ix.enable_stats_cache()
    q = '"ancient ancient"'
    seq = [(r["row_id"], round(r["score"], 6)) for r in
           ix.bm25_search(q, top_k=5, enable_nlq=True).collect()]
    wand = [(r["row_id"], round(r["score"], 6)) for r in
            ix.bm25_search(q, top_k=5, enable_nlq=True,
                           use_wand=True).collect()]
    assert seq == wand
    assert seq  # non-vacuous: 'ancient' matches docs


def test_local_wand_alive_equals_distributed(spark, tmp_path):
    """In-process ``use_wand`` + ``alive_bitmap`` answers what the
    distributed block-max path answers — AND and OR, before and after a
    delete.  The in-process block-max branch these queries once took
    called make_wand_scorer with stale keywords and raised TypeError."""
    from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap
    from tantivy_search_spark.config import IndexConfig
    from tantivy_search_spark.index.builder import IndexBuilder
    from tantivy_search_spark.search.engine import SearchIndex

    vocab = "spark join order window scan merge hash the fast slow".split()
    rng = np.random.default_rng(7)
    n_docs = 600
    rows = [{"doc_id": i, "text": " ".join(
                rng.choice(vocab, size=int(rng.integers(3, 30))))}
            for i in range(n_docs)]
    cfg = IndexConfig.from_json(["text"], "{}")
    cfg.parts_per_shard = 2
    cfg.block_size = 16  # multi-block postings: the scorer prunes
    path = str(tmp_path / "wand_alive")
    IndexBuilder(spark, path, cfg, rows_per_part=100).build(
        spark.createDataFrame(rows), id_col="doc_id")
    ix = SearchIndex(spark, path)
    bm = row_ids_to_u8_bitmap([i for i in range(n_docs) if i % 3])

    def rank(pairs):
        return sorted(((r, round(s, 6)) for r, s in pairs),
                      key=lambda x: (-x[1], x[0]))

    def check(deleted):
        for s in ("spark join", "window the scan"):
            for op in (False, True):
                kw = dict(top_k=10, operator_or=op, use_wand=True,
                          alive_bitmap=bm)
                local = rank(ix.bm25_search_local(s, **kw))
                dist = rank((r["row_id"], r["score"])
                            for r in ix.bm25_search(s, **kw).collect())
                assert local, (s, op)
                assert all(r % 3 and r not in deleted for r, _ in local)
                assert_topk_equal(dist, local)

    check(set())
    victims = [r for r, _ in ix.bm25_search_local(
        "spark join", top_k=3, alive_bitmap=bm)]
    ix.delete_row_ids(victims)
    check(set(victims))
