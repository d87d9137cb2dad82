"""Hot-term bitmap sidecar (IndexBuilder.build_bitmap_sidecar):
precomputed packed bitmaps must be byte-identical to the decode path
for every bitmap-family query, respect tombstones at serve time, and
retire silently when the index changes under them (append)."""

import numpy as np
import pytest

from tantivy_search_spark.config import IndexConfig
from tantivy_search_spark.index.builder import IndexBuilder
from tantivy_search_spark.search.engine import SearchIndex

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta"]


def _rows(n=64, base=0):
    # zipf-ish: "alpha" in every doc (hot), tail words sparse
    out = []
    for i in range(n):
        words = ["alpha"]
        if i % 2 == 0:
            words.append("beta")
        if i % 5 == 0:
            words.append(WORDS[2 + (i // 5) % 5])
        words.append(f"uniq{base + i}")
        out.append({"doc_id": base + i, "body": " ".join(words)})
    return out


def _no_sidecar(ix):
    """Force the decode path on a reader (sidecar-off control)."""
    ix._caches.sidecar = {"terms": frozenset(), "dset": None,
                          "cache": None}
    return ix


@pytest.fixture(scope="module")
def sidecar_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "sidecar")
    cfg = IndexConfig.from_json(["body"], "{}")
    cfg.parts_per_shard = 2
    cfg.n_buckets = 4
    b = IndexBuilder(spark, path, cfg, rows_per_part=16)
    b.build(spark.createDataFrame(_rows()), id_col="doc_id")
    m = b.build_bitmap_sidecar(min_df=4)  # alpha/beta/tail-of-5 hot
    assert m["n_terms"] >= 2
    return path, b


QUERIES = [
    ("term", "alpha"),            # hot, sidecar-served
    ("term", "beta"),
    ("term", "uniq3"),            # tail, decode-served
    ("terms", ["alpha", "uniq7", "gamma"]),   # mixed OR
    ("sentence", "alpha beta uniq10"),
    ("term", "missing"),
]


def _bitmap(ix, kind, arg):
    if kind == "term":
        return ix.query_term_bitmap("body", arg)
    if kind == "terms":
        return ix.query_terms_bitmap("body", arg)
    return ix.query_sentence_bitmap("body", arg)


class TestBitmapSidecar:
    def test_sidecar_equals_decode(self, sidecar_index):
        path, _ = sidecar_index
        ix = SearchIndex.open_local(path)
        ctl = _no_sidecar(SearchIndex.open_local(path))
        assert ix._sidecar_open()["terms"], "sidecar not picked up"
        for kind, arg in QUERIES:
            assert _bitmap(ix, kind, arg) == _bitmap(ctl, kind, arg), \
                (kind, arg)
        # the hot term really came from the sidecar cache, not decode
        assert ("body", "alpha") in ix._caches.sidecar["cache"]
        assert ("body", "alpha") not in ix._caches.ids

    def test_sidecar_bitmap_bytes(self, sidecar_index):
        """alpha is in every doc: 64 set bits = 8 x 0xff."""
        path, _ = sidecar_index
        ix = SearchIndex.open_local(path)
        assert ix.query_term_bitmap("body", "alpha") == b"\xff" * 8

    def test_tombstones_masked_at_serve_time(self, sidecar_index, spark):
        path, _ = sidecar_index
        ix = SearchIndex(spark, path)
        try:
            assert ix.delete_row_ids([0, 9, 63])
            loc = SearchIndex.open_local(path)
            ctl = _no_sidecar(SearchIndex.open_local(path))
            assert loc._sidecar_open()["terms"], \
                "deletes must NOT retire the sidecar"
            for kind, arg in QUERIES:
                assert _bitmap(loc, kind, arg) == _bitmap(ctl, kind, arg)
            bm = np.frombuffer(
                loc.query_term_bitmap("body", "alpha"), np.uint8)
            bits = np.unpackbits(bm, bitorder="little")
            assert bits[0] == 0 and bits[9] == 0
            assert bits.size <= 63 or bits[63] == 0  # trailing trim
        finally:
            # module fixture is shared: undo the deletes' visibility by
            # rebuilding tombstone-free state for later tests
            import shutil, os
            shutil.rmtree(os.path.join(path, "tombstones"),
                          ignore_errors=True)

    def test_append_retires_sidecar(self, sidecar_index, spark):
        path, b = sidecar_index
        b.append(spark.createDataFrame(_rows(8, base=64)), id_col="doc_id")
        ix = SearchIndex.open_local(path)
        assert not ix._sidecar_open()["terms"], \
            "stale sidecar served after append"
        bm = np.frombuffer(ix.query_term_bitmap("body", "alpha"), np.uint8)
        assert np.unpackbits(bm, bitorder="little").sum() == 72
        # rebuilding the sidecar re-enables it with the appended docs
        m = b.build_bitmap_sidecar(min_df=4)
        assert m["n_terms"] >= 2
        fresh = SearchIndex.open_local(path)
        assert fresh._sidecar_open()["terms"]
        assert fresh.query_term_bitmap("body", "alpha") == bytes(bm)
