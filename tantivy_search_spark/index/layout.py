"""On-disk index layout + posting-block codec.

Index directory (parquet today; the layout is Iceberg-compatible — every
table is a directory of parquet files with a stable schema and a
partition column usable as an Iceberg identity partition):

    <index_path>/
      _index_meta.json                 # config + global stats + lineage
      docs/                            # doc_id, metadata, content sha256
      segments/part_group=<g>/         # stage-1 per-partition posting fragments
      postings/bucket=<b>/             # term-sorted file(s) of the bucket
      stats/                           # (col, term, df) global term dictionary
      tombstones/                      # deleted doc_ids
      _checkpoints/                    # per-stage/per-part-group manifests

Postings are term-clustered: bucket = crc32(term) % n_buckets, and every
postings write (build merge, compact, append, optimize_layout) leaves one
file per bucket it touches, sorted by (col, term, shard, sub) in row
groups of ~POSTINGS_ROW_GROUP_BYTES.  A fresh build therefore has one
file per non-empty bucket; each append adds one more to the buckets it
touches.  Readers find a term's row group from the footer statistics
(col/term min/max per row group) — no separate term-location table.

Posting rows (both fragment and merged) hold delta-encoded docID blocks
of <= block_size postings with skip pointers (block_first/block_last) and
block-max metadata (block_max_tf, block_min_norm) — the structure the
reference relies on for block-max WAND pruning (SURVEY.md §4), rebuilt
here as numpy-encoded binary columns.

Invariant: a block never spans two build parts, and doc_ids are assigned
contiguously per part, so within-block deltas always fit uint32 even at
10^12-doc scale, and merged per-term lists are concatenations of
non-overlapping sorted runs.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np

from pyspark.sql import types as T

META_FILE = "_index_meta.json"
DOCS_DIR = "docs"
SEGMENTS_DIR = "segments"
POSTINGS_DIR = "postings"
STATS_DIR = "stats"
TOMBSTONES_DIR = "tombstones"
DOCS_VIEW_FILE = "docs_view.json"  # docs_mode='view': source snapshot spec
BITMAPS_DIR = "bitmaps"
CHECKPOINTS_DIR = "_checkpoints"

#: parquet row-group target (bytes, parquet-mr's buffered-size measure)
#: of the postings writer.  A reader cache miss reads one row group, so
#: small groups read less per miss, but each group adds footer and page
#: overhead.  On the 4,000-doc benchmark corpus (64 buckets, 82,781
#: posting rows; 4.56 MB as unsorted files) the targets 16/32/64/128 KB
#: gave 150/293/536/662-row groups, 4.88/4.02/3.61/3.44 MB of postings
#: and a per-miss fetch of about 1.0/1.0/1.0/1.5 ms (CPU, 4-core VM).
POSTINGS_ROW_GROUP_BYTES = 64 * 1024


def term_bucket(term: str, n_buckets: int) -> int:
    """Stable term -> file bucket (crc32 — identical on driver & executors)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def data_files(path: str) -> list[str]:
    """Parquet data files directly under ``path`` (sorted; none if it
    does not exist).  Names starting with '.' or '_' are skipped, as
    pyarrow datasets and Spark skip them: temp files, _SUCCESS."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return [os.path.join(path, n) for n in sorted(names)
            if n.endswith(".parquet") and n[0] not in "._"]


def recover_swaps(index_path: str, drop_stray: bool = False) -> None:
    """Repair a directory swap interrupted mid-rename.

    compact()/append() replace the postings/stats dirs with the
    sequence: write <dir>_new|_compacting -> rename <dir> to <dir>_old
    -> rename new into place -> rmtree old.  A crash between the two
    renames leaves no live dir but an intact <dir>_old; a crash before
    the final rmtree leaves both.  Recovery rules (idempotent):
      * live dir missing + _old present  -> roll back (_old -> live)
      * live dir present + _old present  -> finish (drop _old)
      * stray _new/_compacting dirs      -> drop, only when
        ``drop_stray`` (writers at job start; readers must not delete a
        concurrent writer's in-progress dir)
    """
    import shutil as _shutil
    for d in (POSTINGS_DIR, STATS_DIR, BITMAPS_DIR, DOCS_DIR):
        live = os.path.join(index_path, d)
        old = live + "_old"
        if os.path.exists(old):
            if os.path.exists(live):
                _shutil.rmtree(old)
            else:
                os.rename(old, live)
        if drop_stray:
            for suffix in ("_new", "_compacting", "_optimizing",
                           "_building"):
                stray = live + suffix
                if os.path.exists(stray):
                    _shutil.rmtree(stray)


#: posting fragment/merged schema (`sub` splits oversized shard rows;
#: doc ranges of subs of one (term, shard) are disjoint & ordered)
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("sub", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),  # postings in this row
        T.StructField("block_first", T.ArrayType(T.LongType()), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tf", T.ArrayType(T.IntegerType()), False),
        T.StructField("block_min_norm", T.ArrayType(T.IntegerType()), False),
        T.StructField("deltas", T.BinaryType(), False),  # uint32, per-block cumsum
        T.StructField("tfs", T.BinaryType(), False),  # uint32
        T.StructField("norms", T.BinaryType(), False),  # uint8 fieldnorm ids
        # uint32 token positions, concatenated per posting in doc order
        # (posting i owns the run [cumsum(tf)[i-1], cumsum(tf)[i]));
        # empty bytes when the index is built without positions —
        # reference WithFreqsAndPositions analog (index_manager.rs:64)
        T.StructField("positions", T.BinaryType(), True),
    ]
)

SEGMENTS_SCHEMA = T.StructType(
    [T.StructField("part_id", T.IntegerType(), False)]
    + POSTINGS_SCHEMA.fields
    + [T.StructField("sum_tf", T.LongType(), False)]  # raw token mass of this row
)

STATS_SCHEMA = T.StructType(
    [
        T.StructField("col", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray, block_size: int
) -> dict:
    """Sorted doc_ids (+ parallel tfs, fieldnorm ids) -> block-coded row parts.

    deltas[i] = doc_ids[i] - doc_ids[i-1] within a block, first element of
    each block relative to block_first (i.e. 0).
    """
    n = doc_ids.shape[0]
    nb = (n + block_size - 1) // block_size
    starts = np.arange(nb) * block_size
    ends = np.minimum(starts + block_size, n)
    d = np.diff(doc_ids)
    if n > 1 and int(d.max(initial=0)) >= 2**32:
        # the per-part contiguity invariant guarantees this never fires
        raise ValueError("doc_id gap overflows uint32 delta (block spans parts?)")
    deltas = np.empty(n, dtype=np.uint32)
    deltas[1:] = d
    deltas[starts] = 0
    return {
        "df": int(n),
        "block_first": doc_ids[starts].astype(np.int64),
        "block_last": doc_ids[ends - 1].astype(np.int64),
        "block_max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        "block_min_norm": np.minimum.reduceat(norms, starts).astype(np.int32),
        "deltas": deltas.tobytes(),
        "tfs": tfs.astype(np.uint32).tobytes(),
        "norms": norms.astype(np.uint8).tobytes(),
    }


def encode_blocks_many(
    t_docs: np.ndarray,
    t_tfs: np.ndarray,
    t_norms: np.ndarray,
    bounds: np.ndarray,
    block_size: int,
) -> dict:
    """Vectorized :func:`encode_blocks` over MANY terms at once.

    ``bounds`` delimits per-term runs in the (term, doc)-sorted triple
    arrays (term i owns [bounds[i], bounds[i+1])).  All block metadata
    (first/last/max_tf/min_norm) and the delta stream are computed with
    global numpy passes — one ``reduceat`` per metric instead of one
    ``encode_blocks`` call per term, which is the segment-build hot
    loop at realistic vocabulary (10^5+ terms per part).  Output is
    byte-identical to per-term encode_blocks (property-tested).

    Returns dict with per-term LISTS: df, block_first, block_last,
    block_max_tf, block_min_norm, deltas (bytes), tfs (bytes),
    norms (bytes), sum_tf.
    """
    nterms = bounds.size - 1
    lengths = (bounds[1:] - bounds[:-1]).astype(np.int64)
    nb = (lengths + block_size - 1) // block_size
    nb_off = np.concatenate(([0], np.cumsum(nb)))
    total_blocks = int(nb_off[-1])
    term_of_block = np.repeat(np.arange(nterms), nb)
    block_k = np.arange(total_blocks, dtype=np.int64) \
        - np.repeat(nb_off[:-1], nb)
    b_start = bounds[:-1][term_of_block] + block_k * block_size
    b_end = np.minimum(b_start + block_size, bounds[1:][term_of_block])

    block_first = t_docs[b_start].astype(np.int64)
    block_last = t_docs[b_end - 1].astype(np.int64)
    block_max_tf = np.maximum.reduceat(t_tfs, b_start).astype(np.int32)
    block_min_norm = np.minimum.reduceat(t_norms, b_start).astype(np.int32)

    d64 = np.empty(t_docs.size, dtype=np.int64)
    if t_docs.size:
        d64[0] = 0
        d64[1:] = np.diff(t_docs)
        d64[b_start] = 0  # block starts (incl. every term start) reset
        if int(d64.max(initial=0)) >= 2 ** 32:
            raise ValueError(
                "doc_id gap overflows uint32 delta (block spans parts?)")
    deltas = d64.astype(np.uint32)
    tfs32 = t_tfs.astype(np.uint32)
    norms8 = t_norms.astype(np.uint8)
    sum_tf = np.add.reduceat(t_tfs, bounds[:-1]).astype(np.int64) \
        if t_docs.size else np.empty(0, np.int64)

    out = {
        "df": lengths.tolist(),
        "block_first": [block_first[nb_off[i]:nb_off[i + 1]]
                        for i in range(nterms)],
        "block_last": [block_last[nb_off[i]:nb_off[i + 1]]
                       for i in range(nterms)],
        "block_max_tf": [block_max_tf[nb_off[i]:nb_off[i + 1]]
                         for i in range(nterms)],
        "block_min_norm": [block_min_norm[nb_off[i]:nb_off[i + 1]]
                           for i in range(nterms)],
        "deltas": [deltas[bounds[i]:bounds[i + 1]].tobytes()
                   for i in range(nterms)],
        "tfs": [tfs32[bounds[i]:bounds[i + 1]].tobytes()
                for i in range(nterms)],
        "norms": [norms8[bounds[i]:bounds[i + 1]].tobytes()
                  for i in range(nterms)],
        "sum_tf": sum_tf.tolist(),
    }
    return out


def decode_doc_ids(block_first, deltas: bytes, block_size: int) -> np.ndarray:
    """doc_ids-only decode (bitmap queries): lets the parquet scan prune
    the tfs/norms columns entirely."""
    dl = np.frombuffer(deltas, dtype=np.uint32)
    n = dl.shape[0]
    first = np.asarray(block_first, dtype=np.int64)
    nb = first.shape[0]
    starts = np.arange(nb, dtype=np.int64) * block_size
    csum = np.cumsum(dl.astype(np.int64))
    lengths = np.diff(np.append(starts, n))
    block_of = np.repeat(np.arange(nb), lengths)
    base = first - csum[starts]
    return csum + base[block_of]


def decode_blocks(
    block_first, deltas: bytes, tfs: bytes, norms: bytes, block_size: int,
    keep_blocks: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_blocks -> (doc_ids int64, tfs int64, norms uint8).

    ``keep_blocks`` (bool per block) decodes a subset — the skip-pointer
    path used by WAND / range pruning.
    """
    dl = np.frombuffer(deltas, dtype=np.uint32)
    tf = np.frombuffer(tfs, dtype=np.uint32)
    nm = np.frombuffer(norms, dtype=np.uint8)
    n = dl.shape[0]
    first = np.asarray(block_first, dtype=np.int64)
    nb = first.shape[0]
    starts = np.arange(nb, dtype=np.int64) * block_size

    if keep_blocks is not None and not keep_blocks.all():
        sel = np.nonzero(keep_blocks)[0]
        if sel.size == 0:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.uint8),
            )
        parts_doc, parts_tf, parts_nm = [], [], []
        for b in sel:  # few selected blocks; each decode is vectorized
            s, e = starts[b], min(starts[b] + block_size, n)
            parts_doc.append(first[b] + np.cumsum(dl[s:e].astype(np.int64)))
            parts_tf.append(tf[s:e].astype(np.int64))
            parts_nm.append(nm[s:e])
        return (
            np.concatenate(parts_doc),
            np.concatenate(parts_tf),
            np.concatenate(parts_nm),
        )

    # full vectorized decode:
    # doc_id[i] = first[blk] + (csum[i] - csum[start(blk)]); delta at each
    # block start is 0, so csum differences are within-block prefix sums.
    csum = np.cumsum(dl.astype(np.int64))
    lengths = np.diff(np.append(starts, n))
    block_of = np.repeat(np.arange(nb), lengths)
    base = first - csum[starts]
    doc_ids = csum + base[block_of]
    return doc_ids, tf.astype(np.int64), nm


def split_positions(positions: bytes | None, tfs: np.ndarray,
                    s: int, e: int) -> bytes:
    """Slice a row's flat positions buffer to postings [s, e) using the
    per-posting tf counts (posting i owns tf[i] positions)."""
    if not positions:
        return b""
    cum = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
    return positions[int(cum[s]) * 4: int(cum[e]) * 4]


def decode_positions(positions: bytes | None,
                     tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (flat uint32 positions, int64 offsets) with posting i's
    positions at flat[offsets[i]:offsets[i+1]]."""
    flat = np.frombuffer(positions or b"", dtype=np.uint32)
    offsets = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
    return flat, offsets


@dataclass
class IndexMeta:
    config_json: str
    num_parts: int = 0
    total_docs: int = 0
    total_tokens: dict | None = None  # col -> raw token count
    part_ranges: list | None = None  # [(part_id, first_doc, last_doc, rows)]
    build_metrics: dict | None = None
    #: max data-file mtime observed at commit (meta save) time, on the
    #: storage system's own clock — repair() treats files with mtime
    #: strictly below it as committed without reading footers.  Unlike a
    #: wall-clock margin against the meta file's mtime, this cannot
    #: misclassify a crashed append's artifacts under writer/storage
    #: clock skew: any post-commit write lands at or after the fence.
    committed_fence: float | None = None
    #: doc-id high-water mark — survives compact(purge_deletes=True)
    #: removing the max-id docs, so append() never reissues a purged id
    #: (None on pre-purge metas: part_ranges max is then exact)
    max_doc_id: int | None = None
    #: 'view' when the docs table is a lazy reconstruction over the
    #: pinned source-parquet snapshot (docs_view.json holds the file
    #: list + offsets) instead of a build-time corpus copy; None/absent
    #: means the classic copied docs table
    docs_mode: str | None = None
    #: [total_docs, rows_per_part] when doc ids are dense 0..N-1
    #: (position-id builds): part ranges are pure arithmetic, so meta
    #: stays O(1) bytes instead of one part_ranges entry per part —
    #: at 10^12 docs an explicit list would make meta.json gigabytes.
    #: When set, part_ranges may be None; use part_bounds(meta).
    dense_ranges: list | None = None

    def save(self, index_path: str) -> None:
        with open(os.path.join(index_path, META_FILE), "w") as f:
            json.dump(self.__dict__, f, indent=1)

    @classmethod
    def load(cls, index_path: str) -> "IndexMeta":
        with open(os.path.join(index_path, META_FILE)) as f:
            return cls(**json.load(f))


def part_bounds(meta: "IndexMeta") -> list | None:
    """[(part_id, first_doc, last_doc, rows)] for every part — the
    explicit ``part_ranges`` list, or the arithmetic expansion of a
    ``dense_ranges`` descriptor (ids dense 0..N-1).  None only on
    legacy metas that recorded neither.  Callers that merely need a
    doc→part mapping on a dense index should use the arithmetic
    directly (``doc_id // rows_per_part``) instead of expanding."""
    if meta.part_ranges:
        return meta.part_ranges
    dense = getattr(meta, "dense_ranges", None)
    if dense:
        n, rpp = int(dense[0]), int(dense[1])
        return [[k, k * rpp, min((k + 1) * rpp, n) - 1,
                 min(rpp, n - k * rpp)]
                for k in range((n + rpp - 1) // rpp)]
    return meta.part_ranges


def max_doc_bound(meta: "IndexMeta") -> int:
    """Largest committed doc id, or -1 on an empty index — O(1) even on
    a dense descriptor (ADVICE r4: repair()/append()/purge only ever
    needed this max, but reached it by expanding part_bounds() into a
    per-part list, ~10^7+ elements at the 10^12-doc scale dense_ranges
    exists for)."""
    dense = getattr(meta, "dense_ranges", None)
    if not meta.part_ranges and dense:
        return int(dense[0]) - 1
    return max((r[2] for r in meta.part_ranges or []), default=-1)


def max_part_bound(meta: "IndexMeta") -> int:
    """Largest committed part id, or -1 on an empty index — O(1) on a
    dense descriptor (companion of :func:`max_doc_bound`)."""
    dense = getattr(meta, "dense_ranges", None)
    if not meta.part_ranges and dense:
        n, rpp = int(dense[0]), int(dense[1])
        return (n - 1) // rpp if n > 0 else -1
    return max((r[0] for r in meta.part_ranges or []), default=-1)
