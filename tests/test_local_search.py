"""bm25_search_local (driver hot path) == bm25_search (distributed),
query for query, including filters, deletes-free stats injection, and
NLQ fallback."""

from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap


QUERIES = [
    ("Ancient empires rise and fall", False),
    ("Ancient empires rise and fall", True),
    ("ancient", True),
    ("moral horizons", False),
    ("nonexistent gibberish", True),
]


def _dist(ix, s, op, **kw):
    return [(r["row_id"], round(r["score"], 4)) for r in
            ix.bm25_search(s, top_k=5, operator_or=op, **kw).collect()]


def _loc(ix, s, op, **kw):
    return [(rid, round(sc, 4)) for rid, sc in
            ix.bm25_search_local(s, top_k=5, operator_or=op, **kw)]


class TestLocalSearch:
    def test_local_equals_distributed(self, corpus_a_index):
        ix = corpus_a_index
        ix.enable_stats_cache()
        for s, op in QUERIES:
            assert _loc(ix, s, op) == _dist(ix, s, op), (s, op)

    def test_local_single_column(self, corpus_a_index):
        ix = corpus_a_index
        got = _loc(ix, "ancient", True, column_names=["col2"])
        want = _dist(ix, "ancient", True, column_names=["col2"])
        assert got == want

    def test_local_alive_filter(self, corpus_a_index):
        ix = corpus_a_index
        bm = row_ids_to_u8_bitmap([0, 4])
        got = _loc(ix, "ancient rise fall", True, alive_bitmap=bm)
        want = _dist(ix, "ancient rise fall", True, alive_bitmap=bm)
        assert got == want and all(r in (0, 4) for r, _ in got)

    def test_local_statistics_injection(self, corpus_a_index):
        from tantivy_search_spark.search.engine import Statistics

        ix = corpus_a_index
        toks = {c: ix.config.analyzer(c)("ancient rise fall")
                for c in ix.config.columns}
        local = ix.local_statistics(toks)
        fake = Statistics(
            docs_freq=[(t, c, d * 2) for (t, c, d) in local.docs_freq],
            total_num_tokens={c: n * 2 for c, n in
                              local.total_num_tokens.items()},
            total_num_docs=local.total_num_docs * 2,
        )
        got = _loc(ix, "ancient rise fall", True, statistics=fake)
        want = _dist(ix, "ancient rise fall", True, statistics=fake)
        assert got == want

    def test_local_nlq(self, corpus_a_index):
        ix = corpus_a_index
        got = _loc(ix, "col2:ancient OR (moral horizons)", False,
                   enable_nlq=True)
        want = _dist(ix, "col2:ancient OR (moral horizons)", False,
                     enable_nlq=True)
        assert got == want

    def test_local_cache_warm_no_spark_job(self, corpus_a_index):
        """After the first call, repeated queries hit the decoded LRU
        and run zero Spark jobs (the latency story)."""
        ix = corpus_a_index
        ix.enable_stats_cache()
        first = _loc(ix, "ancient rise fall", True)
        tracker = ix.spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        again = _loc(ix, "ancient rise fall", True)
        after = tracker.getJobIdsForGroup(None)
        assert again == first
        assert len(after) == len(before), "warm local query ran a Spark job"

    def test_warm_terms_bulk_prefetch(self, corpus_a_index):
        """warm_terms bulk-fills the raw/ids LRUs in one scan; queries
        and bitmaps afterwards return exactly what cold calls return."""
        ix = corpus_a_index
        queries = ["ancient rise fall", "moral horizons"]
        for c in ix.config.columns:
            n = ix.warm_terms(c, queries, bitmaps=True)
            assert n > 0
        warm = [ix.bm25_search_local(q, top_k=5, use_wand=True)
                for q in queries]
        warm_bm = ix.query_term_bitmap(ix.config.columns[0], "ancient")
        for cache in (ix._caches.ids, ix._caches.postings,
                      ix._caches.scores, ix._caches.bitmaps):
            cache.clear()
        cold = [ix.bm25_search_local(q, top_k=5, use_wand=True)
                for q in queries]
        cold_bm = ix.query_term_bitmap(ix.config.columns[0], "ancient")
        assert warm == cold
        assert warm_bm == cold_bm

    def test_local_wand_equals_exact(self, corpus_a_index):
        ix = corpus_a_index
        for s, op in [("ancient rise fall", True),
                      ("ancient rise fall", False),
                      ("moral horizons", False)]:
            got = [(r, round(sc, 4)) for r, sc in
                   ix.bm25_search_local(s, top_k=5, operator_or=op,
                                        column_names=["col2"],
                                        use_wand=True)]
            want = _dist(ix, s, op, column_names=["col2"])
            assert got == want, (s, op)

    def test_local_cache_smaller_than_query_no_keyerror(self, spark, tmp_path):
        """A query referencing more atoms than the LRU cap used to evict
        entries mid-fill and KeyError on the gather; eviction now happens
        after the query's atoms are all pinned."""
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex
        from corpora import corpus_a_rows

        path = str(tmp_path / "tiny_cache_idx")
        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        IndexBuilder(spark, path, cfg, rows_per_part=2).build(
            spark.createDataFrame(corpus_a_rows()), id_col="doc_id")
        ix = SearchIndex(spark, path)
        ix.enable_local_cache(max_terms=2)  # below the query's atom count
        got = [(r, round(s, 4)) for r, s in
               ix.bm25_search_local("ancient empires rise and fall",
                                    top_k=5, operator_or=True)]
        want = [(r["row_id"], round(r["score"], 4)) for r in
                ix.bm25_search("ancient empires rise and fall", top_k=5,
                               operator_or=True).collect()]
        assert got == want
        # over-cap entries beyond the current query may remain pinned
        # only for this query; the cache never exceeds cap + atoms
        assert len(ix._caches.postings) <= 2 + 3 * 5


class TestAutoRoute:
    """bm25_search_auto picks the tier; results identical either side
    of the threshold (round-3 routing heuristic)."""

    def test_routes_local_below_threshold(self, corpus_a_index):
        ix = corpus_a_index
        assert ix._postings_bytes() <= ix.AUTO_LOCAL_MAX_BYTES
        auto = [(r, round(s, 4)) for r, s in
                ix.bm25_search_auto("ancient empires rise", top_k=5,
                                    operator_or=True)]
        local = [(r, round(s, 4)) for r, s in
                 ix.bm25_search_local("ancient empires rise", top_k=5,
                                      operator_or=True)]
        assert auto == local

    def test_routes_spark_above_threshold_same_results(
            self, corpus_a_index):
        ix = corpus_a_index
        base = [(r, round(s, 4)) for r, s in
                ix.bm25_search_auto("ancient empires rise", top_k=5,
                                    operator_or=True)]
        old = ix.AUTO_LOCAL_MAX_BYTES
        ix.AUTO_LOCAL_MAX_BYTES = 0  # force the distributed tier
        try:
            dist = [(r, round(s, 4)) for r, s in
                    ix.bm25_search_auto("ancient empires rise", top_k=5,
                                        operator_or=True)]
        finally:
            ix.AUTO_LOCAL_MAX_BYTES = old
        assert dist == base

    def test_size_cache_resets_on_reload(self, corpus_a_index):
        ix = corpus_a_index
        n = ix._postings_bytes()
        assert ix._caches.postings_bytes == n
        ix.reload()
        assert ix._caches.postings_bytes is None
        assert ix._postings_bytes() == n


class TestLocalTreeEvaluator:
    """Non-flat NLQ trees (MustNot, boosts, nested groups) must answer
    IN-PROCESS — open_local() indexes have no Spark tier to fall back
    to (ADVICE r4)."""

    NESTED = [
        "ancient -empires",                       # top-level MustNot
        "moral^2 horizons",                       # boost factor != 1
        "(ancient empires) AND (rise OR fall)",   # nested groups
        "ancient AND (rise OR -fall)",
    ]

    def test_nested_nlq_local_equals_distributed(self, corpus_a_index):
        ix = corpus_a_index
        ix.enable_stats_cache()
        for q in self.NESTED:
            got = _loc(ix, q, False, enable_nlq=True)
            want = _dist(ix, q, False, enable_nlq=True)
            assert got == want, q

    def test_nested_nlq_without_spark(self, corpus_a_index):
        from tantivy_search_spark.search.engine import SearchIndex
        local = SearchIndex.open_local(corpus_a_index.index_path)
        ix = corpus_a_index
        for q in self.NESTED:
            got = [(rid, round(sc, 4)) for rid, sc in
                   local.bm25_search_local(q, top_k=5, enable_nlq=True)]
            want = _dist(ix, q, False, enable_nlq=True)
            assert got == want, q


class TestDenseHotTermGather:
    """High-df terms ride a doc-indexed dense position lookup in the
    TAAT/WAND local path (round-5: replaces the per-query searchsorted
    gather that dominated hot+tail latency).  Scores must stay
    bit-identical to the sparse path and to the distributed tier."""

    def test_dense_path_triggers_and_matches(self, corpus_a_index,
                                             monkeypatch):
        ix = corpus_a_index
        ix.enable_stats_cache()
        ix.enable_local_cache()
        # corpus a is tiny, so drop the posting-count floor to let the
        # dense path trigger ('the' covers >= 25% of col3 docs)
        monkeypatch.setattr(type(ix), "LOCAL_DENSE_MIN_DOCS", 1)
        ix._caches.dense.clear()
        # single column: the TAAT/WAND local shortcut (where the
        # dense gather lives) only runs for one-column queries
        for s, op in [("the ancient", False), ("the ancient", True),
                      ("the moral", False), ("the rise fall", True)]:
            got = [(rid, round(sc, 6)) for rid, sc in
                   ix.bm25_search_local(s, top_k=5, operator_or=op,
                                        column_names=["col3"],
                                        use_wand=True)]
            want = [(r["row_id"], round(r["score"], 6)) for r in
                    ix.bm25_search(s, top_k=5, operator_or=op,
                                   column_names=["col3"]).collect()]
            assert got == want, (s, op)
        # the dense cache actually filled (the path ran, not skipped)
        cache = ix._caches.dense
        assert any(k[1] == "the" for k in cache), list(cache)

    def test_dense_matches_sparse_forced(self, corpus_a_index,
                                         monkeypatch):
        """Same query answered with the dense path disabled (fraction
        raised) must be identical — pins the equivalence directly."""
        ix = corpus_a_index
        ix.enable_local_cache()
        monkeypatch.setattr(type(ix), "LOCAL_DENSE_MIN_DOCS", 1)
        ix._caches.dense.clear()
        q, op = "the ancient empires", True
        dense = ix.bm25_search_local(q, top_k=10, operator_or=op,
                                     column_names=["col3"],
                                     use_wand=True)
        old = type(ix).LOCAL_DENSE_MIN_FRAC
        try:
            type(ix).LOCAL_DENSE_MIN_FRAC = 2.0  # nothing qualifies
            ix._caches.dense.clear()
            sparse = ix.bm25_search_local(q, top_k=10, operator_or=op,
                                          column_names=["col3"],
                                          use_wand=True)
        finally:
            type(ix).LOCAL_DENSE_MIN_FRAC = old
        assert dense == sparse

    def test_dense_survives_delete_and_reload(self, spark, tmp_path,
                                              monkeypatch):
        import json

        from tantivy_search_spark.search.engine import SearchIndex as SI
        monkeypatch.setattr(SI, "LOCAL_DENSE_MIN_DOCS", 1)

        from corpora import corpus_a_rows
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex

        spec = {"col1": {"tokenizer": {"type": "default"}}}
        cfg = IndexConfig.from_json(["col1"], json.dumps(spec))
        cfg.n_buckets = 4
        cfg.parts_per_shard = 2
        path = str(tmp_path / "dense_del")
        src = spark.createDataFrame(
            [{"doc_id": r["doc_id"], "col1": r["col1"]}
             for r in corpus_a_rows()])
        IndexBuilder(spark, path, cfg, rows_per_part=2).build(
            src, id_col="doc_id")
        ix = SearchIndex(spark, path)
        ix.enable_local_cache()
        before = ix.bm25_search_local("the ancient", top_k=10,
                                      operator_or=True, use_wand=True)
        assert before
        assert ix._caches.dense  # dense path ran
        victim = before[0][0]
        ix.delete_row_ids([victim])
        ix.reload()
        assert not ix._caches.dense  # invalidated
        after = ix.bm25_search_local("the ancient", top_k=10,
                                     operator_or=True, use_wand=True)
        assert victim not in [r for r, _ in after]
        want = [(r["row_id"], round(r["score"], 6)) for r in
                ix.bm25_search("the ancient", top_k=10,
                               operator_or=True).collect()]
        assert [(r, round(s, 6)) for r, s in after] == want

    def test_dense_lru_byte_cap(self, corpus_a_index, monkeypatch):
        """The dense LRU counts its bytes as it goes; a lookup larger
        than the whole cap serves its query but is not cached."""
        from tantivy_search_spark.search.engine import SearchIndex
        monkeypatch.setattr(SearchIndex, "LOCAL_DENSE_MIN_DOCS", 1)
        ix = SearchIndex.open_local(corpus_a_index.index_path)
        kw = dict(top_k=5, column_names=["col3"], use_wand=True)
        queries = [("the ancient", True), ("the moral", False)]
        want = [ix.bm25_search_local(q, operator_or=op, **kw)
                for q, op in queries]
        cache = ix._caches.dense
        assert cache, "dense path did not run"
        assert cache.nbytes == sum(cache.get(k)[0].nbytes for k in cache)
        monkeypatch.setattr(SearchIndex, "LOCAL_DENSE_MAX_BYTES",
                            cache.nbytes // len(cache) - 1)
        ix.reload()  # caches are rebuilt with the smaller cap
        got = [ix.bm25_search_local(q, operator_or=op, **kw)
               for q, op in queries]
        assert got == want
        assert not ix._caches.dense and ix._caches.dense.nbytes == 0


class TestLRU:
    def test_byte_cap_evicts_to_zero_and_skips_oversize(self):
        from tantivy_search_spark.search.engine import _LRU
        c = _LRU(max_bytes=100)
        c.put("a", 1, nbytes=60)
        c.put("b", 2, nbytes=30)
        c.put("c", 3, nbytes=50)  # evicts the oldest, a
        assert list(c) == ["b", "c"] and c.nbytes == 80
        c.put("d", 4, nbytes=100)  # evicts every older entry
        assert list(c) == ["d"] and c.nbytes == 100
        assert c.put("e", 5, nbytes=101) == 5  # served, not cached
        assert list(c) == ["d"] and c.nbytes == 100

    def test_never_evicts_pinned_keys(self):
        from tantivy_search_spark.search.engine import _LRU
        c = _LRU(max_entries=2)
        for k in "abc":
            c.put(k, k, keep={"a", "b", "c"})
        assert list(c) == ["a", "b", "c"]
        assert c.get("a") == "a"  # a is now the most recent
        c.put("d", "d", keep={"d"})
        assert list(c) == ["a", "d"]
