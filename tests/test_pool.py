"""Embedded (Spark-free) reader + multi-process search pool.

``SearchIndex.open_local`` mirrors the reference's embedded FFI
deployment (src/search/implements/api_myscale_local.rs — an in-process
engine, no cluster); ``SearchPool`` is the analog of its shared rayon
search pool (api_load_index_reader.rs:38-54).  Everything here is
pinned against the Spark-backed reader on the same index directory.
"""

import json
import os
import subprocess
import sys

import pytest

from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap

QUERIES = [
    ("Ancient empires rise and fall", False),
    ("Ancient empires rise and fall", True),
    ("ancient", True),
    ("moral horizons", False),
    ("nonexistent gibberish", True),
]


def _loc(ix, s, op, **kw):
    return [(rid, round(sc, 4)) for rid, sc in
            ix.bm25_search_local(s, top_k=5, operator_or=op, **kw)]


@pytest.fixture(scope="module")
def local_ix(corpus_a_index):
    """Embedded reader over the same on-disk index the Spark reader
    serves — opened with no SparkSession at all."""
    from tantivy_search_spark.search.engine import SearchIndex

    ix = SearchIndex.open_local(corpus_a_index.index_path)
    yield ix
    ix.close()


class TestOpenLocal:
    def test_search_matches_spark_reader(self, corpus_a_index, local_ix):
        corpus_a_index.enable_stats_cache()
        for s, op in QUERIES:
            assert _loc(local_ix, s, op) == _loc(corpus_a_index, s, op), (s, op)

    def test_auto_routes_local(self, local_ix):
        got = local_ix.bm25_search_auto("ancient", operator_or=True, top_k=5)
        assert [(r, round(s, 4)) for r, s in got] == _loc(
            local_ix, "ancient", True)

    def test_bitmaps_match_spark_reader(self, corpus_a_index, local_ix):
        pairs = [
            lambda ix: ix.query_term_bitmap("col1", "ancient"),
            lambda ix: ix.query_terms_bitmap("col2", ["ancient", "moral"]),
            lambda ix: ix.query_sentence_bitmap(
                "col3", "Ancient empires rise and fall"),
            lambda ix: ix.regex_term_bitmap("col1", "%anc%"),
            lambda ix: ix.regex_term_bitmap("col1", "n_nexistent"),
        ]
        for fn in pairs:
            assert fn(local_ix) == fn(corpus_a_index)

    def test_stats_getters(self, corpus_a_index, local_ix):
        assert (local_ix.get_total_num_docs()
                == corpus_a_index.get_total_num_docs())
        assert (local_ix.get_total_num_tokens()
                == corpus_a_index.get_total_num_tokens())
        assert (sorted(local_ix.get_doc_freq("ancient moral"))
                == sorted(corpus_a_index.get_doc_freq("ancient moral")))
        assert (local_ix.get_indexed_doc_counts()
                == corpus_a_index.get_indexed_doc_counts())

    def test_distributed_paths_raise(self, local_ix):
        with pytest.raises(RuntimeError, match="open_local"):
            local_ix.bm25_search("ancient").collect()

    def test_wand_and_filter(self, corpus_a_index, local_ix):
        bm = row_ids_to_u8_bitmap([0, 2, 4])
        for kw in ({"use_wand": True},
                   {"alive_bitmap": bm},
                   {"enable_nlq": True},
                   {"use_wand": True, "alive_bitmap": bm}):
            got = _loc(local_ix, "ancient rise fall", True,
                       column_names=["col1"], **kw)
            want = _loc(corpus_a_index, "ancient rise fall", True,
                        column_names=["col1"], **kw)
            assert got == want, kw


class TestOpenLocalDeletes:
    def test_embedded_delete_visibility(self, spark, tmp_path):
        """delete_row_ids on the embedded tier commits a tombstone part
        the Spark reader also sees (and vice versa)."""
        from corpora import corpus_a_rows
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex

        path = str(tmp_path / "idx_del")
        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        cfg.n_buckets = 4
        df = spark.createDataFrame(corpus_a_rows())
        IndexBuilder(spark, path, cfg).build(df, id_col="doc_id")

        emb = SearchIndex.open_local(path)
        before = {r for r, _ in emb.bm25_search_local(
            "ancient", operator_or=True, top_k=10)}
        victim = max(before)
        assert emb.delete_row_ids([victim, 10_000])
        after = {r for r, _ in emb.bm25_search_local(
            "ancient", operator_or=True, top_k=10)}
        assert victim in before and victim not in after

        dist = SearchIndex(spark, path)
        got = {r["row_id"] for r in dist.bm25_search(
            "ancient", operator_or=True, top_k=10).collect()}
        assert got == after
        emb.close()
        dist.close()


class TestSearchPool:
    def test_spawn_pool_matches_sequential(self, corpus_a_index, local_ix):
        """Spark is live in this process -> the pool must refuse fork and
        spawn fresh workers; results stay identical to sequential."""
        from tantivy_search_spark.search.pool import SearchPool

        assert not SearchPool._fork_safe()
        sentences = [s for s, _ in QUERIES] * 3
        with SearchPool(corpus_a_index.index_path, processes=3,
                        top_k=5, operator_or=True) as pool:
            got = pool.search_batch(sentences)
        want = [local_ix.bm25_search_local(s, top_k=5, operator_or=True)
                for s in sentences]
        assert [[(r, round(s, 4)) for r, s in row] for row in got] == \
               [[(r, round(s, 4)) for r, s in row] for row in want]

    def test_per_query_overrides(self, corpus_a_index, local_ix):
        """(sentence, overrides) items override the pool defaults for
        that query only — matching per-call FFI flags."""
        from tantivy_search_spark.search.pool import SearchPool

        items = [
            "ancient",                                  # pool default: AND
            ("ancient rise fall", {"operator_or": True}),
            ("moral horizons", {"operator_or": True, "top_k": 2}),
        ]
        with SearchPool(corpus_a_index.index_path, processes=2,
                        top_k=5, operator_or=False) as pool:
            got = pool.search_batch(items)
        want = [
            local_ix.bm25_search_local("ancient", top_k=5,
                                       operator_or=False),
            local_ix.bm25_search_local("ancient rise fall", top_k=5,
                                       operator_or=True),
            local_ix.bm25_search_local("moral horizons", top_k=2,
                                       operator_or=True),
        ]
        assert [[(r, round(s, 4)) for r, s in row] for row in got] == \
               [[(r, round(s, 4)) for r, s in row] for row in want]

    def test_reload_sees_commits(self, spark, tmp_path):
        """pool.reload() after a delete commit: every worker re-opens
        and the tombstoned doc disappears from pool results."""
        from corpora import corpus_a_rows
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex
        from tantivy_search_spark.search.pool import SearchPool

        path = str(tmp_path / "idx_pool_reload")
        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        cfg.n_buckets = 4
        IndexBuilder(spark, path, cfg).build(
            spark.createDataFrame(corpus_a_rows()), id_col="doc_id")

        with SearchPool(path, processes=2, top_k=10,
                        operator_or=True) as pool:
            before = {r for r, _ in pool.search_batch(["ancient"])[0]}
            victim = max(before)
            ix = SearchIndex(spark, path)
            assert ix.delete_row_ids([victim])
            ix.close()
            # workers still hold the old reader until reload
            pool.reload()
            after = {r for r, _ in pool.search_batch(["ancient"])[0]}
        assert victim in before and victim not in after

    def test_fork_pool_in_spark_free_process(self, corpus_a_index, local_ix):
        """Fork mode (the reference's shared-pool shape: workers inherit
        the parent's warmed caches) only engages with no live JVM — run
        it in a clean subprocess and pin against sequential results."""
        sentences = [s for s, _ in QUERIES]
        script = (
            "import json, sys\n"
            "sys.path.insert(0, %r)\n"
            "from tantivy_search_spark.search.pool import SearchPool\n"
            "assert SearchPool._fork_safe(), 'expected fork mode'\n"
            "pool = SearchPool(%r, processes=2, warm_queries=%r,\n"
            "                  top_k=5, operator_or=False)\n"
            "assert pool._fork\n"
            "out = pool.search_batch(%r)\n"
            "pool.close()\n"
            "print(json.dumps([[(r, round(s, 4)) for r, s in row]\n"
            "                  for row in out]))\n"
        ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             corpus_a_index.index_path, sentences[:2], sentences)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        want = [[[r, round(s, 4)] for r, s in
                 local_ix.bm25_search_local(s, top_k=5)]
                for s in sentences]
        assert got == want

    def test_shared_parent_index_across_pools(self, corpus_a_index,
                                              local_ix):
        """parent_index= forks successive pools from one caller-owned
        warmed reader (pool-resize / multi-pool serving without
        re-paying the warm phase): results match sequential, the reader
        survives close(), and ownership stays with the caller."""
        sentences = [s for s, _ in QUERIES]
        script = (
            "import json, sys\n"
            "sys.path.insert(0, %r)\n"
            "from tantivy_search_spark.search.engine import SearchIndex\n"
            "from tantivy_search_spark.search.pool import SearchPool\n"
            "parent = SearchIndex.open_local(%r)\n"
            "for q in %r:\n"
            "    parent.bm25_search_local(q, top_k=5)\n"
            "rows = []\n"
            "for procs in (1, 2):\n"
            "    pool = SearchPool(%r, processes=procs,\n"
            "                      parent_index=parent, top_k=5,\n"
            "                      operator_or=False)\n"
            "    assert pool._fork and not pool._parent_owned\n"
            "    rows.append(pool.search_batch(%r))\n"
            "    pool.close()\n"
            "# caller's reader is still open after both pools closed\n"
            "parent.bm25_search_local('ancient', top_k=1)\n"
            "parent.close()\n"
            "print(json.dumps([[[(r, round(s, 4)) for r, s in row]\n"
            "                   for row in out] for out in rows]))\n"
        ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             corpus_a_index.index_path, sentences[:2],
             corpus_a_index.index_path, sentences)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        want = [[[r, round(s, 4)] for r, s in
                 local_ix.bm25_search_local(s, top_k=5)]
                for s in sentences]
        assert got == [want, want]

    def test_term_bitmap_batch(self, corpus_a_index, local_ix):
        """Pooled single-term bitmaps == sequential embedded bitmaps
        (byte-identical), with and without the result cache."""
        script = (
            "import json, sys\n"
            "sys.path.insert(0, %r)\n"
            "from tantivy_search_spark.search.pool import SearchPool\n"
            "pool = SearchPool(%r, processes=2)\n"
            "terms = ['ancient', 'moral', 'zzz_nothing']\n"
            "a = pool.term_bitmap_batch('col2', terms)\n"
            "b = pool.term_bitmap_batch('col2', terms, bypass_cache=True)\n"
            "pool.close()\n"
            "print(json.dumps([[x.hex() for x in out] for out in (a, b)]))\n"
        ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             corpus_a_index.index_path)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        want = [local_ix.query_term_bitmap("col2", t).hex()
                for t in ["ancient", "moral", "zzz_nothing"]]
        assert got == [want, want]

    def test_term_bitmap_drain_matches_batch(self, corpus_a_index,
                                             local_ix):
        """In-worker-consumption accounting (n_ok, total bytes, xor
        crc32) == the same reductions over the shipped batch results."""
        script = (
            "import json, sys, zlib\n"
            "sys.path.insert(0, %r)\n"
            "from tantivy_search_spark.search.pool import SearchPool\n"
            "pool = SearchPool(%r, processes=2)\n"
            "terms = ['ancient', 'moral', 'zzz_nothing'] * 4\n"
            "shipped = pool.term_bitmap_batch('col2', terms)\n"
            "n, tot, crc, errs = pool.term_bitmap_drain('col2', terms,\n"
            "                                           bypass_cache=True)\n"
            "pool.close()\n"
            "crc_want = 0\n"
            "for b in shipped:\n"
            "    crc_want ^= zlib.crc32(b)\n"
            "print(json.dumps([n, tot, crc, len(errs),\n"
            "                  len(shipped), sum(map(len, shipped)),\n"
            "                  crc_want]))\n"
        ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             corpus_a_index.index_path)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        n, tot, crc, n_err, n_ship, tot_ship, crc_want = json.loads(
            proc.stdout.strip().splitlines()[-1])
        assert (n, n_err) == (n_ship, 0)
        assert tot == tot_ship
        assert crc == crc_want

    def test_granule_sweep_drain(self, corpus_a_index, local_ix):
        """Pool sweep counters == the sequential with_range truth."""
        step, total = 8, 16  # 2 granules over corpus A's 5 docs
        want_hits = sum(
            local_ix.query_term_with_range("col1", "Ancient",
                                           g, g + step)
            for g in range(0, total, step))
        script = (
            "import json, sys\n"
            "sys.path.insert(0, %r)\n"
            "from tantivy_search_spark.search.pool import SearchPool\n"
            "pool = SearchPool(%r, processes=2)\n"
            "n, hits, probes, errs = pool.granule_sweep_drain(\n"
            "    'col1', ['Ancient'] * 6, %d, %d, bypass_cache=True)\n"
            "pool.close()\n"
            "print(json.dumps([n, hits, probes, len(errs)]))\n"
        ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             corpus_a_index.index_path, step, total)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        n, hits, probes, n_err = json.loads(
            proc.stdout.strip().splitlines()[-1])
        assert (n, n_err) == (6, 0)
        assert probes == 6 * 2
        assert hits == 6 * want_hits

    def test_query_error_isolated(self, corpus_a_index, local_ix):
        """One failing query returns a falsy PoolQueryError at its slot;
        the rest of the batch still answers (ADVICE r4)."""
        from unittest import mock

        from tantivy_search_spark.search import pool as pool_mod

        real = pool_mod._WORKER_INDEX
        items = ["ancient", ("BOOM", {}), "moral horizons"]

        class Exploding:
            def bm25_search_local(self, sentence, **kw):
                if sentence == "BOOM":
                    raise ValueError("unsupported query shape")
                return local_ix.bm25_search_local(sentence, **kw)

        try:
            pool_mod._WORKER_INDEX = Exploding()
            pool_mod._WORKER_KWARGS = {"top_k": 5}
            out = [pool_mod._worker_search(i) for i in items]
        finally:
            pool_mod._WORKER_INDEX = real
        assert out[0] and isinstance(out[2], list)  # real hit lists
        err = out[1]
        assert isinstance(err, pool_mod.PoolQueryError) and not err
        assert "unsupported query shape" in err.error
