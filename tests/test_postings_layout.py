"""Term-clustered postings and the embedded reader's row-group directory.

Every postings write leaves one (col, term)-sorted file per bucket it
touches; ``SearchIndex._fetch_rows_arrow`` reads only the row groups
whose footer bounds admit an atom.  These tests pin that the directory
read returns exactly the rows a plain ``pyarrow.dataset`` scan of the
same postings directory returns — on a fresh build, after ``append``
(several files per bucket), after ``compact``, and on bucket files
rewritten unsorted in several files and row groups (the layout indexes
had before the sorted writer)."""

import glob
import os
import random
import shutil

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from tantivy_search_spark.index import layout

COLS = ["path", "content"]
FETCH_COLS = ["col", "term", "block_first", "deltas", "tfs", "norms"]


def _config():
    from tantivy_search_spark.config import IndexConfig

    cfg = IndexConfig.from_json(COLS, "{}")
    cfg.with_positions = True
    cfg.n_buckets = 4
    cfg.parts_per_shard = 4
    return cfg


def _corpus(spark, n, seed):
    from tantivy_search_spark.codecorpus import synth_code_corpus

    return synth_code_corpus(spark, n, seed=seed, num_partitions=4,
                             ident_frac=0.35, ident_vocab=600,
                             max_tokens=120, with_doc_id=True)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A 300-doc two-column index with positions, written in ~2 KB row
    groups so each bucket file holds many of them."""
    from tantivy_search_spark.index.builder import IndexBuilder

    path = str(tmp_path_factory.mktemp("postings_layout") / "idx")
    saved = layout.POSTINGS_ROW_GROUP_BYTES
    layout.POSTINGS_ROW_GROUP_BYTES = 2048
    try:
        IndexBuilder(spark, path, _config(), rows_per_part=32).build(
            _corpus(spark, 300, 1), id_col="doc_id")
    finally:
        layout.POSTINGS_ROW_GROUP_BYTES = saved
    return path


@pytest.fixture()
def index_copy(built, tmp_path):
    path = str(tmp_path / "idx")
    shutil.copytree(built, path)
    return path


def _bucket_files(path):
    out = {}
    for d in sorted(glob.glob(os.path.join(path, "postings", "bucket=*"))):
        out[d] = sorted(f for f in os.listdir(d)
                        if f.endswith(".parquet") and f[0] not in "._")
    return out


def _normalize(pdf, columns):
    """Row multiset of a fetched frame, hashable (arrays -> tuples)."""
    def cell(v):
        if isinstance(v, np.ndarray):
            return tuple(v.tolist())
        return bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) \
            else v
    return sorted(tuple(cell(getattr(r, c)) for c in columns)
                  for r in pdf.itertuples(index=False))


def _scan_rows(path, atoms, columns):
    """The reference: a plain dataset scan of the postings directory,
    kept to exactly the (col, term) atoms."""
    dset = ds.dataset(os.path.join(path, "postings"), partitioning="hive")
    tbl = dset.to_table(columns=columns, filter=ds.field("term").isin(
        sorted({t for _, t in atoms}))).to_pandas()
    want = set(atoms)
    keep = [(c, t) in want for c, t in zip(tbl["col"], tbl["term"])]
    return _normalize(tbl[keep], columns)


def _atom_sets(ix, seed, n_sets=24):
    """Seeded atom sets: present single atoms, several present atoms
    across both columns, a term asked in both columns, absent terms."""
    rng = random.Random(seed)
    keys = sorted(ix._stats_cache)
    sets = []
    for i in range(n_sets):
        k = 1 + i % 6
        atoms = rng.sample(keys, k)
        if i % 3 == 0:
            c, t = atoms[0]
            atoms.append((COLS[1 - COLS.index(c)], t))
        if i % 4 == 0:
            atoms.append((rng.choice(COLS), f"zzabsent{i}"))
        sets.append(atoms)
    sets.append([("content", "zzabsent-only")])
    return sets


def _assert_fetch_equals_scan(path, seed):
    from tantivy_search_spark.search.engine import SearchIndex

    ix = SearchIndex.open_local(path)
    try:
        checked = 0
        for atoms in _atom_sets(ix, seed):
            for columns in (FETCH_COLS, FETCH_COLS + ["positions"]):
                got = _normalize(ix._fetch_rows_arrow(atoms, columns),
                                 columns)
                assert got == _scan_rows(path, atoms, columns), atoms
                checked += len(got)
        assert checked > 0
    finally:
        ix.close()


class TestTermClusteredLayout:
    def test_fresh_build_one_sorted_file_per_bucket(self, built):
        files = _bucket_files(built)
        stats = ds.dataset(os.path.join(built, "stats"),
                           partitioning="hive").to_table().to_pandas()
        assert len(files) == stats["bucket"].nunique()
        n_groups = []
        for d, names in files.items():
            assert len(names) == 1, (d, names)
            pf = pq.ParquetFile(os.path.join(d, names[0]))
            n_groups.append(pf.metadata.num_row_groups)
            tbl = pf.read(columns=["col", "term"])
            keys = list(zip(tbl["col"].to_pylist(), tbl["term"].to_pylist()))
            assert keys == sorted(keys), d
        # the small row-group target really split the files
        assert max(n_groups) > 1

    def test_fetch_equals_scan_fresh_build(self, built):
        _assert_fetch_equals_scan(built, seed=1)

    def test_fetch_equals_scan_after_append(self, spark, index_copy):
        from tantivy_search_spark.index.builder import IndexBuilder

        IndexBuilder(spark, index_copy, _config(), rows_per_part=32).append(
            _corpus(spark, 120, 2).drop("doc_id"))
        files = _bucket_files(index_copy)
        assert max(len(v) for v in files.values()) > 1
        _assert_fetch_equals_scan(index_copy, seed=2)

    def test_fetch_equals_scan_after_compact(self, spark, index_copy):
        from tantivy_search_spark.index.builder import IndexBuilder

        b = IndexBuilder(spark, index_copy, _config(), rows_per_part=32)
        b.append(_corpus(spark, 120, 3).drop("doc_id"))
        b.compact()
        assert all(len(v) == 1 for v in _bucket_files(index_copy).values())
        _assert_fetch_equals_scan(index_copy, seed=3)

    def test_fetch_equals_scan_unsorted_files(self, built, index_copy):
        """Each bucket rewritten as two row-shuffled files of small row
        groups: the footer bounds span most terms, so the directory
        reads nearly everything, and must still return the same rows
        and the same query answers."""
        from tantivy_search_spark.search.engine import SearchIndex

        rng = np.random.default_rng(7)
        for d, names in _bucket_files(index_copy).items():
            tbl = pq.read_table(os.path.join(d, names[0]))
            tbl = tbl.take(rng.permutation(tbl.num_rows))
            os.remove(os.path.join(d, names[0]))
            half = tbl.num_rows // 2
            pq.write_table(tbl.slice(0, half),
                           os.path.join(d, "part-a.parquet"),
                           row_group_size=16)
            pq.write_table(tbl.slice(half),
                           os.path.join(d, "part-b.parquet"),
                           row_group_size=16)
        _assert_fetch_equals_scan(index_copy, seed=4)

        sorted_ix = SearchIndex.open_local(built)
        unsorted_ix = SearchIndex.open_local(index_copy)
        for q in ("return value self", "import os path", "zzabsent"):
            for op_or in (False, True):
                assert unsorted_ix.bm25_search_local(
                    q, top_k=20, operator_or=op_or) == \
                    sorted_ix.bm25_search_local(
                        q, top_k=20, operator_or=op_or), (q, op_or)
        sorted_ix.close()
        unsorted_ix.close()

    def test_directory_is_per_generation(self, spark, index_copy):
        """Open handles and row-group bounds live in the reader caches:
        reload() drops them, so an append becomes visible."""
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex

        ix = SearchIndex.open_local(index_copy)
        atoms = [("content", "return")]
        before = len(ix._fetch_rows_arrow(atoms, FETCH_COLS))
        assert ix._caches.directory and len(ix._caches.files)
        IndexBuilder(spark, index_copy, _config(), rows_per_part=32).append(
            _corpus(spark, 120, 5).drop("doc_id"))
        ix.reload()
        assert not ix._caches.directory and not len(ix._caches.files)
        after = ix._fetch_rows_arrow(atoms, FETCH_COLS)
        assert len(after) > before
        assert _normalize(after, FETCH_COLS) == \
            _scan_rows(index_copy, atoms, FETCH_COLS)
        ix.close()
