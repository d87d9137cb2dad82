"""Query engine: BM25 top-k + bitmap family over the persisted index.

Operator parity map (SURVEY.md §2.3/§2.4):

* ``bm25_search``            — Q6/Q7 standard + NLQ top-k with optional
                               alive-bitmap filter (Q8) and injected
                               global Statistics (Q9).
* ``query_term_bitmap``      — Q1 (token OR-set of the analyzed term)
* ``query_terms_bitmap``     — Q2
* ``query_sentence_bitmap``  — Q3
* ``regex_term_bitmap``      — Q4 (ClickHouse LIKE over the term dict)
* ``query_*_with_range`` / ``regex_term_with_range``
                             — granule-exists checks (skip-index
                               pruning): cached query bitmap + byte
                               -window probe per [lrange, rrange]
* ``get_doc_freq`` / ``get_total_num_docs`` / ``get_total_num_tokens`` /
  ``get_indexed_doc_counts`` — Q10-Q13
* ``delete_row_ids``         — B6 (tombstones; all queries exclude them)

Physical plan of a BM25 query (all heavy lifting JVM-side):

  postings parquet --bucket partition pruning + term isin pushdown-->
  candidate rows --mapInPandas numpy decode+score (Arrow batches)-->
  (doc_id, atom, score) --hash agg partial/final per doc (codegen)-->
  boolean-tree Column eval --> TakeOrderedAndProject top-k

The decode UDF receives broadcast global stats (idf/avgdl inputs), the
alive bitmap and the tombstone set — the Spark analog of the reference's
``update_multi_parts_statistics`` injection, which is what makes
per-partition scores equal to single-index scores.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from collections.abc import Iterator
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from tantivy_search_spark import bm25
from tantivy_search_spark.bitmap import (
    bitmap_range_any,
    like_to_regex,
    mask_for_row_ids,
    row_ids_to_u8_bitmap,
)
from tantivy_search_spark.config import IndexConfig
from tantivy_search_spark.fieldnorm import FIELD_NORMS_TABLE
from tantivy_search_spark.index import layout
from tantivy_search_spark.index.layout import (
    BITMAPS_DIR,
    DOCS_DIR,
    POSTINGS_DIR,
    STATS_DIR,
    TOMBSTONES_DIR,
    IndexMeta,
    data_files,
    term_bucket,
)
from tantivy_search_spark.search import querytree as qt


def _kernel_prof_emit(stage: str, rec: dict) -> None:
    """Opt-in per-task phase timings for the batch path's Python
    stages: when $TSS_KERNEL_PROF_DIR is set, each task appends one
    JSON line there (scripts/scaling attribution uses this to split
    shuffle feed vs Arrow gather vs numpy kernel seconds — task-level
    Spark metrics can't see inside a pandas UDF).  No-op otherwise."""
    import json as _json

    d = os.environ.get("TSS_KERNEL_PROF_DIR")
    if not d:
        return
    try:
        os.makedirs(d, exist_ok=True)
        rec = {"stage": stage, "pid": os.getpid(), **rec}
        with open(os.path.join(d, f"kp-{os.getpid()}.jsonl"), "a") as f:
            f.write(_json.dumps(rec) + "\n")
    except Exception:
        pass


def _trim_trailing_zeros(packed: np.ndarray) -> bytes:
    """Drop trailing zero bytes (reference bitmaps carry none) without
    np.nonzero over the whole array — that scan was 85 % of a sparse
    bitmap rebuild on a 5.6M-doc corpus.  The last set byte is almost
    always in the final chunk (hi = max posting id), so this touches
    ~4 KB instead of materializing every nonzero index."""
    n = packed.size
    step = 4096
    end = n
    while end > 0:
        start = end - step if end > step else 0
        nz = np.flatnonzero(packed[start:end])
        if nz.size:
            return packed[: start + int(nz[-1]) + 1].tobytes()
        end = start
    return b""


def _sql_int_list(vals) -> str:
    return ",".join(str(int(v)) for v in vals)


def _sql_str_list(vals) -> str:
    return ",".join("'" + str(v).replace("\\", "\\\\").replace("'", "\\'")
                    + "'" for v in vals)


@dataclass
class Statistics:
    """Reference ``Statistics`` FFI struct (src/lib.rs:46-50): externally
    injected global stats for distributed-correct BM25."""

    docs_freq: list = dc_field(default_factory=list)  # [(term, col, df)]
    total_num_tokens: dict = dc_field(default_factory=dict)  # col -> tokens
    total_num_docs: int = 0

    @classmethod
    def merge(cls, parts: list["Statistics"]) -> "Statistics":
        """Sum-by-key merge, mirroring the reference's multi-part test
        (src/common/test_util.rs:492-513)."""
        df_map: dict[tuple[str, str], int] = {}
        tok: dict[str, int] = {}
        n = 0
        for p in parts:
            for term, col, df in p.docs_freq:
                df_map[(term, col)] = df_map.get((term, col), 0) + df
            for col, t in p.total_num_tokens.items():
                tok[col] = tok.get(col, 0) + t
            n += p.total_num_docs
        return cls(
            docs_freq=[(t, c, d) for (t, c), d in df_map.items()],
            total_num_tokens=tok,
            total_num_docs=n,
        )


@dataclass(frozen=True)
class _ScoringEnv:
    """One query's BM25 statistics, resolved once: injected global
    ``Statistics`` (Q9) when they carry doc freqs, this index's own
    otherwise; the index's own df fills terms an injection lacks."""

    df: dict  # (col, term) -> doc freq
    n_docs: int
    avgdl: dict  # col -> mean tokens per doc
    injected: bool  # scores differ from the index's own: never cache them

    def idf(self, col: str, term: str) -> float:
        return float(bm25.idf(self.df.get((col, term), 0), self.n_docs))


class _LRU:
    """Least-recently-used map bounded by an entry count or by bytes
    (``nbytes`` given per ``put``, kept as a running total).  ``put``
    never evicts a key in ``keep`` — the keys the current query still
    reads — and a value larger than the whole byte cap is handed back
    uncached."""

    def __init__(self, max_entries: int | None = None,
                 max_bytes: int | None = None):
        self.max_entries = max_entries
        self.max_bytes = max_bytes
        self.nbytes = 0
        self._d: OrderedDict = OrderedDict()  # key -> (nbytes, value)

    def __len__(self) -> int:
        return len(self._d)

    def __contains__(self, key) -> bool:
        return key in self._d

    def __iter__(self):
        return iter(self._d)

    def get(self, key):
        ent = self._d.get(key)
        if ent is None:
            return None
        self._d.move_to_end(key)
        return ent[1]

    def put(self, key, value, keep=(), nbytes: int = 0):
        if self.max_bytes is not None and nbytes > self.max_bytes:
            return value
        old = self._d.pop(key, None)
        if old is not None:
            self.nbytes -= old[0]
        self._d[key] = (nbytes, value)
        self.nbytes += nbytes
        n, size, victims = len(self._d), self.nbytes, []
        for k, (kb, _) in self._d.items():  # oldest first
            if not ((self.max_entries is not None and n > self.max_entries)
                    or (self.max_bytes is not None
                        and size > self.max_bytes)):
                break
            if k not in keep and k != key:
                victims.append(k)
                n, size = n - 1, size - kb
        for k in victims:
            self.nbytes -= self._d.pop(k)[0]
        return value

    def clear(self) -> None:
        self._d.clear()
        self.nbytes = 0


class _ReaderCaches:
    """Everything a reader derives from one index generation: the
    in-process LRUs, the bitmap result cache, prepared plans and lazily
    opened handles.  ``reload()`` and ``close()`` swap in a fresh
    instance, so no entry outlives the generation it was built from."""

    def __init__(self, ix: "SearchIndex"):
        n = ix._local_cache_max
        self.postings = _LRU(n)  # (col, term) -> (doc_ids, tfs, norm_ids)
        self.scores = _LRU(n)  # (col, term) -> (doc_ids, scores, max)
        self.positions = _LRU(n)  # (col, term) -> phrase runs
        self.ids = _LRU(n)  # (col, term) -> doc ids (bitmap family)
        self.dense = _LRU(max_bytes=ix.LOCAL_DENSE_MAX_BYTES)
        self.bitmaps = _LRU(ix.BITMAP_CACHE_CAPACITY)
        self.plans = _LRU(256)  # query shape -> prepared DataFrame
        self.sidecar: dict | None = None  # opened bitmap sidecar
        # postings row-group directory: bucket -> [(path, footer,
        # row-group bounds)], filled at each bucket's first fetch; the
        # open parquet handles ride their own LRU (the fd count stays
        # bounded on layouts with many files per bucket)
        self.directory: dict = {}
        self.files = _LRU(ix.FETCH_OPEN_FILES)  # path -> pq.ParquetFile
        self.postings_bytes: int | None = None
        self.empty_scores: DataFrame | None = None


def _eval_phrase(
    terms_l: list[str],
    per_term: dict,
    idf_m: dict,
    avgdl_l: float,
    k1: float,
    b: float,
    slop: int = 0,
    offsets: tuple | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Shared phrase evaluator (distributed shard scorer + local path).

    ``per_term[t] = (doc_ids, tfs, norm_ids, pos_flat, pos_offsets)``
    with doc_ids sorted and positions aligned per posting.  Returns
    (docs, scores) for docs where the terms appear in order at the
    query offsets (``offsets``: per-term token positions from the
    query analyzer, tantivy PhraseQuery::new_with_offset — a stop word
    inside the quotes widens the required gap; None == consecutive)
    with a displacement budget of ``slop``: each inter-term distance
    may deviate from the query's own gap by a total of ``slop`` tokens
    in either direction, but terms must stay IN ORDER ('"a b"~1'
    matches 'a x b' but never 'b a'; transpositions are not matched —
    documented divergence from Lucene-style sloppy phrases, which
    tantivy also does not implement); score = sum of member BM25 term
    scores.
    """
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    for t in terms_l:
        if t not in per_term or per_term[t][0].size == 0:
            return empty
    deltas = [offsets[i + 1] - offsets[i] for i in range(len(offsets) - 1)] \
        if offsets else [1] * (len(terms_l) - 1)
    cand = per_term[terms_l[0]][0]
    for t in terms_l[1:]:
        cand = cand[np.isin(cand, per_term[t][0])]
        if cand.size == 0:
            return empty

    # vectorized adjacency chain over composite (doc << 32 | pos) keys:
    # no per-candidate Python loop, so a boilerplate phrase matching
    # millions of docs stays at numpy speed.  Positions are uint32 by
    # construction (token index within one doc), so the packing is
    # collision-free.
    SHIFT = np.int64(1) << np.int64(32)

    def cand_keys(t: str) -> np.ndarray:
        d, tf, nm, flat, offs = per_term[t]
        j = np.searchsorted(d, cand)  # every cand present in d
        lens = (offs[j + 1] - offs[j]).astype(np.int64)
        total = int(lens.sum())
        if total == 0:
            return np.empty(0, np.int64)
        base = np.repeat(offs[j], lens)
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(lens)))[:-1], lens)
        pos = flat[base + within].astype(np.int64)
        docs_rep = np.repeat(cand, lens)
        return docs_rep * SHIFT + pos

    if slop <= 0:
        cur = cand_keys(terms_l[0])  # (doc, matched position) keys
        for t, d in zip(terms_l[1:], deltas):
            kt = cand_keys(t)
            cur = cur + np.int64(d)  # expected next position
            cur = cur[np.isin(cur, kt)]
            if cur.size == 0:
                return empty
        docs = np.unique(cur >> np.int64(32))
    else:
        # sloppy chain: states are ((doc, last matched pos), used budget);
        # a small loop over the displacement g (|g| <= slop, typically
        # tiny) keeps every step a vectorized membership test.  g may go
        # negative down to -(d-1) — terms may sit CLOSER than the query's
        # own gap (e.g. a stop-word hole) but never reorder.  Duplicate
        # states keep their minimum used-budget (it dominates).
        keys = cand_keys(terms_l[0])
        used = np.zeros(keys.size, dtype=np.int64)
        for t, d in zip(terms_l[1:], deltas):
            kt = np.sort(cand_keys(t))
            nk, nu = [], []
            for g in range(-min(slop, max(d - 1, 0)), slop + 1):
                ok = used + abs(g) <= slop
                ck = keys[ok] + np.int64(d + g)
                m = np.isin(ck, kt)
                if m.any():
                    nk.append(ck[m])
                    nu.append(used[ok][m] + abs(g))
            if not nk:
                return empty
            keys = np.concatenate(nk)
            used = np.concatenate(nu)
            # dedupe (doc, pos) states keeping min used
            order = np.lexsort((used, keys))
            keys, used = keys[order], used[order]
            first = np.concatenate(([True], keys[1:] != keys[:-1]))
            keys, used = keys[first], used[first]
        docs = np.unique(keys >> np.int64(32))

    # score survivors: sum of member term scores, gathered per term
    scores = np.zeros(docs.size, dtype=np.float64)
    norm_table = FIELD_NORMS_TABLE
    for t in terms_l:
        d, tf, nm, flat, offs = per_term[t]
        j = np.searchsorted(d, docs)
        norm_d = bm25.doc_norm(norm_table[nm[j]], avgdl_l or 1.0, k1, b)
        scores += bm25.term_score(tf[j], idf_m[t], norm_d, k1)
    return docs, scores


def _assemble_phrase_runs(runs: list) -> tuple:
    """Concatenate disjoint decoded posting runs (with positions) into
    one doc-sorted (d, tf, nm, pos_flat, offsets) tuple."""
    d = np.concatenate([x[0] for x in runs])
    tf = np.concatenate([x[1] for x in runs])
    nm = np.concatenate([x[2] for x in runs])
    flat = np.concatenate([x[3] for x in runs]) if runs else \
        np.empty(0, np.uint32)
    offs = np.concatenate(([0], np.cumsum(tf, dtype=np.int64)))
    order = np.argsort(d, kind="stable")
    if not np.all(order[:-1] < order[1:]):
        starts = offs[:-1][order]
        lens = tf[order]
        idx = np.concatenate(
            [np.arange(s, s + ln) for s, ln in zip(starts, lens)]) \
            if len(order) else np.empty(0, np.int64)
        d, tf, nm, flat = d[order], tf[order], nm[order], flat[idx]
        offs = np.concatenate(([0], np.cumsum(tf, dtype=np.int64)))
    return d, tf, nm, flat, offs


def _top_k(docs: np.ndarray, scores: np.ndarray,
           k: int) -> list[tuple[int, float]]:
    """The k best (doc, score) pairs in (score desc, doc asc) order;
    an O(n) kth-score cut (ties kept) before the exact sort."""
    if 0 < 8 * k < scores.size:
        cut = np.partition(scores, scores.size - k)[scores.size - k]
        keep = np.flatnonzero(scores >= cut)
        docs, scores = docs[keep], scores[keep]
    idx = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in idx]


#: per-worker reusable kernel buffers (name -> flat ndarray).  Spark
#: reuses Python workers across tasks, but numpy's transient multi-MB
#: temporaries go back to glibc as mmap'd blocks and every task repays
#: the page-fault + TLB cost of first-touching them (measured ~2-9x
#: the warm kernel time on real task dumps).  Buffers here persist in
#: the worker and are reused by shape; callers re-fill/overwrite every
#: element they read, so no state leaks between tasks.
_KERNEL_BUFS: dict = {}


def _kbuf(key: str, shape: tuple, dtype) -> np.ndarray:
    need = 1
    for s in shape:
        need *= int(s)
    buf = _KERNEL_BUFS.get(key)
    if buf is None or buf.dtype != dtype or buf.size < need:
        buf = np.empty(max(need, 1), dtype=dtype)
        _KERNEL_BUFS[key] = buf
    return buf[:need].reshape(shape)


def _flat_score_topk(env, doc_col, atom_col, score_col):
    """Batch flat-tree scoring core over one task's gathered
    (doc_id, atom, score) arrays -> per-query local top-k DataFrame
    (or None).  Shared by the scalar-row and packed-row gather
    wrappers; ``env`` is the broadcast plan tuple built by
    ``SearchIndex._flat_plan_bcast``.

    The stage is memory-traffic-bound at scale, hence: the count
    matmul runs float32 (counts are small exact integers; the SCORE
    matmul stays float64 for oracle-exact BM25 sums), the AND-arity
    check touches only AND columns (np.where materialized two
    full-width temps), the score mask multiplies in place, per-query
    slices read transposed contiguous rows, and each chunk's
    candidates are cut with an O(m) kth-score partition (ties kept)
    before the exact (score desc, row_id asc) sort."""
    (Wscore, Wcount32, gsize32, and_cols, g_starts, qid_arr, k, budget,
     n_pos, e_starts, e_qpos, dedup_atoms, csc) = env
    na = Wscore.shape[0]
    n_g = Wcount32.shape[1]  # positives + exclusion columns
    nq = qid_arr.shape[0]
    # memory-traffic diet (round-4 scaling attribution,
    # BENCH/scaling_attribution.json: identical work costs 2.1x the
    # CPU-seconds at 32 cores vs 8 — the dense per-(doc, group) temps
    # saturate DRAM, not the FLOPs): BM25 term scores are strictly
    # positive (idf = log1p(>0), tf > 0 on present postings), so a
    # positive OR group matched iff its score sum is > 0.  The count
    # matmul C, the matched_g bool temp and the logical_or reduceat are
    # then only needed for the AND-arity columns and the matching-only
    # exclusion columns — usually a small slice of n_g.  A non-positive
    # score weight (explicit `^0` boost) would break score>0 matching,
    # so such plans keep the legacy full-width match path.
    #
    # Second diet stage: W is column-sparse (a group holds a handful of
    # atoms out of the whole batch vocabulary), so the dense float32
    # prefilter matmuls S @ W / M @ Wc waste na/|group| of their FLOPs
    # and stream multi-MB dense temps through DRAM.  The slim path now
    # walks the plan-time CSC of W instead: scatter scores TRANSPOSED
    # (atom-major rows, contiguous per-atom vectors) and sum each
    # group's few member rows with an einsum — O(n * nnz(W)) instead of
    # O(n * na * n_g).  Exactness is untouched: the float32 sums still
    # only pick the epsilon-guarded candidate superset, and every rank
    # decision is made by the unchanged float64 candidate rescore.
    (slim, wsb, wsa, wsw, wsw64, wcb, wca, wcw, needed) = csc
    if slim:
        and_in_needed = np.searchsorted(needed, and_cols)
        pos_and = and_cols[and_cols < n_pos]
        pos_and_in_needed = np.searchsorted(needed, pos_and)
        excl_in_needed = np.searchsorted(needed, np.arange(n_pos, n_g))
        # flat one-OR-group-per-query batches: group == query, the
        # group->query reduceat is the identity (a pure copy) — skip it
        identity_groups = (n_pos == nq
                           and np.array_equal(g_starts, np.arange(nq)))
    # wide batches (many unique atoms x many queries) would allocate
    # multi-GB dense M/S/C per task: bound the doc axis so every dense
    # intermediate fits in `budget` bytes.  The per-chunk top-k union
    # contains the batch top-k, so the final per-query cut is exact.
    if slim:
        # ST float32 + S64T float64 worst case, SW_T/CnT group-major
        per_row = (12 * na + 5 * needed.size + 4 * n_pos + 17 * nq) or 1
    else:
        per_row = 8 * (2 * na + 3 * n_g + 2 * nq) or 1
    rows_chunk = max(32, int(budget // per_row))
    # one vectorized factorize replaces the per-doc map rows: uniq[j]
    # is doc j's id, inv maps each row to its doc slot
    uniq, inv = np.unique(doc_col, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    inv_s = inv[order]
    atom_s = atom_col[order]
    score_s = score_col[order]
    # per-query candidate accumulators across doc chunks
    cand_r: list = [[] for _ in range(nq)]
    cand_s: list = [[] for _ in range(nq)]
    for d0 in range(0, uniq.size, rows_chunk):
        d1 = min(d0 + rows_chunk, uniq.size)
        lo, hi = np.searchsorted(inv_s, (d0, d1))
        row_ids = uniq[d0:d1]
        n = d1 - d0
        r_idx = inv_s[lo:hi] - d0
        a_idx = atom_s[lo:hi]
        if slim:
            # slim path: scatter scores TRANSPOSED (one contiguous
            # float32 row per atom) and sum each group's few member
            # rows straight off the plan CSC — O(n * nnz(W)) work, no
            # dense (doc x atom) @ (atom x group) matmul.  Exact
            # float64 scores are re-gathered below for the per-query
            # top-k CANDIDATES only.  Provably rank-safe: slim
            # guarantees all score weights (and BM25 per-posting
            # scores) strictly positive, so the float32 sums have no
            # cancellation and the candidate threshold keeps an
            # epsilon-guarded superset of the true top-k before the
            # exact rescore decides.
            ST = _kbuf("ST", (na, n), np.float32)
            ST.fill(0)
            if dedup_atoms:
                # bare multi-column atoms repeat (doc, atom) once per
                # column: scores SUM across columns (compile
                # semantics), match stays idempotent
                np.add.at(ST, (a_idx, r_idx), score_s[lo:hi])
            else:
                ST[a_idx, r_idx] = score_s[lo:hi]
            SW_T = _kbuf("SW_T", (n_pos, n), np.float32)
            for g in range(n_pos):
                glo, ghi = wsb[g], wsb[g + 1]
                if ghi - glo == 1:
                    np.multiply(ST[wsa[glo]], wsw[glo], out=SW_T[g])
                elif ghi > glo:
                    np.einsum("ij,i->j", ST[wsa[glo:ghi]],
                              wsw[glo:ghi], out=SW_T[g])
                else:
                    SW_T[g] = 0.0
            matched_nT = None
            if needed.size:
                # presence == score > 0 under slim; per-needed-column
                # counts ride the same CSC walk (counts are small
                # exact integers, float32 sums are exact).  Member
                # rows compare > 0 per group (small m x n temps)
                # instead of materializing a full dense (na x n) mask.
                CnT = _kbuf("CnT", (needed.size, n), np.float32)
                for j in range(needed.size):
                    glo, ghi = wcb[j], wcb[j + 1]
                    if ghi - glo == 1:
                        np.multiply(ST[wca[glo]] > 0, wcw[glo],
                                    out=CnT[j])
                    elif ghi > glo:
                        np.einsum(
                            "ij,i->j",
                            (ST[wca[glo:ghi]] > 0).astype(np.float32),
                            wcw[glo:ghi], out=CnT[j])
                    else:
                        CnT[j] = 0.0
                matched_nT = CnT > 0
                if and_in_needed.size:
                    matched_nT[and_in_needed] = (
                        CnT[and_in_needed]
                        == gsize32[and_cols][:, None])
                if pos_and.size:
                    # AND groups that miss their arity score zero; OR
                    # groups need no mask (unmatched => score already 0)
                    SW_T[pos_and] *= matched_nT[pos_and_in_needed]
            # segmented group->query reduce over the POSITIVE columns
            # (group-major rows, so reduceat runs along axis 0 and the
            # result is query-major and contiguous per query already);
            # for one-group-per-query batches it would be a pure copy
            if identity_groups:
                score_qT = SW_T
            else:
                score_qT = _kbuf("score_qT", (nq, n), np.float32)
                np.add.reduceat(SW_T, g_starts, axis=0, out=score_qT)
            matched_qT = score_qT > 0.0
        else:
            S = np.zeros((n, na), dtype=np.float64)
            if dedup_atoms:
                np.add.at(S, (r_idx, a_idx), score_s[lo:hi])
            else:
                S[r_idx, a_idx] = score_s[lo:hi]
            SW = S @ Wscore
            M = np.zeros((n, na), dtype=np.float32)
            M[r_idx, a_idx] = 1.0
            C = M @ Wcount32
            matched_g = C > 0
            if and_cols.size:
                matched_g[:, and_cols] = (
                    C[:, and_cols] == gsize32[and_cols])
            SW *= matched_g[:, :n_pos]
            # (query-major; see _flat_plan_bcast's g_order — reduceat
            # on a slice stops at the slice end, so exclusion columns
            # can't bleed into the last query's segment)
            score_qT = np.ascontiguousarray(
                np.add.reduceat(SW, g_starts, axis=1).T)
            matched_qT = np.ascontiguousarray(
                np.logical_or.reduceat(
                    matched_g[:, :n_pos], g_starts, axis=1).T)
        if e_qpos.size:
            # MustNot: a doc leaves its query's match set when ANY of
            # the query's exclusion groups matched (scores untouched —
            # excluded columns have no score weights)
            if slim:
                exclT = np.logical_or.reduceat(
                    matched_nT[excl_in_needed], e_starts, axis=0)
                for j in range(e_qpos.size):
                    matched_qT[e_qpos[j]] &= ~exclT[j]
            else:
                excl = np.logical_or.reduceat(
                    matched_g[:, n_pos:], e_starts, axis=1)
                for j in range(e_qpos.size):
                    matched_qT[e_qpos[j]] &= ~excl[:, j]
        hit_counts = matched_qT.sum(axis=1)
        if slim:
            # float32 scores pick an epsilon-guarded candidate SUPERSET
            # per query; exact float64 scores are re-gathered for those
            # rows only and make every ranking decision.  Guard bound:
            # all terms positive, so |f32 sum - f64 sum| <= m * eps32 *
            # max_term <= m * eps32 * s32.max(); m (atoms per query) is
            # sentence-sized, 1e-5 relative covers m <= ~160.
            kept_per_q: list = [None] * nq
            all_rows = []
            for ci in range(nq):
                if not hit_counts[ci]:
                    continue
                rloc = np.flatnonzero(matched_qT[ci])
                s32 = score_qT[ci][rloc]
                if s32.size > k:
                    kth32 = np.partition(s32, s32.size - k)[s32.size - k]
                    guard = 1e-5 * float(s32.max())
                    rloc = rloc[s32 >= kth32 - guard]
                kept_per_q[ci] = rloc
                all_rows.append(rloc)
            if not all_rows:
                continue
            crows = np.unique(np.concatenate(all_rows))
            sel_mask = np.zeros(n, dtype=bool)
            sel_mask[crows] = True
            pmask = sel_mask[r_idx]
            comp = np.searchsorted(crows, r_idx[pmask])
            ca_idx = a_idx[pmask]
            cscore = score_s[lo:hi][pmask]
            # exact float64 rescore over candidates, same CSC walk
            # (float64 weights from the plan — identical group sums to
            # the former dense S64 @ Wscore, ~n_atoms/|group| fewer ops)
            nc = crows.size
            S64T = _kbuf("S64T", (na, nc), np.float64)
            S64T.fill(0)
            if dedup_atoms:
                np.add.at(S64T, (ca_idx, comp), cscore)
            else:
                S64T[ca_idx, comp] = cscore
            SW64_T = _kbuf("SW64_T", (n_pos, nc), np.float64)
            for g in range(n_pos):
                glo, ghi = wsb[g], wsb[g + 1]
                if ghi - glo == 1:
                    np.multiply(S64T[wsa[glo]], wsw64[glo],
                                out=SW64_T[g])
                elif ghi > glo:
                    np.einsum("ij,i->j", S64T[wsa[glo:ghi]],
                              wsw64[glo:ghi], out=SW64_T[g])
                else:
                    SW64_T[g] = 0.0
            if matched_nT is not None and pos_and.size:
                SW64_T[pos_and] *= matched_nT[pos_and_in_needed][:, crows]
            if identity_groups:
                score64_qT = SW64_T
            else:
                score64_qT = _kbuf("s64_qT", (nq, nc), np.float64)
                np.add.reduceat(SW64_T, g_starts, axis=0,
                                out=score64_qT)
            pos_in_crows = np.full(n, -1, dtype=np.int64)
            pos_in_crows[crows] = np.arange(crows.size)
            for ci in range(nq):
                rloc = kept_per_q[ci]
                if rloc is None or not rloc.size:
                    continue
                r = row_ids[rloc]
                s = score64_qT[ci][pos_in_crows[rloc]]
                # chunk-local cut keeps accumulators O(chunks*k)
                if s.size > k:
                    kth = np.partition(s, s.size - k)[s.size - k]
                    keep = s >= kth
                    r, s = r[keep], s[keep]
                idx = np.lexsort((r, -s))[:k]
                cand_r[ci].append(r[idx])
                cand_s[ci].append(s[idx])
            continue
        for ci in range(nq):
            if not hit_counts[ci]:
                continue
            mask = matched_qT[ci]
            r = row_ids[mask]
            s = score_qT[ci][mask]
            # chunk-local cut keeps accumulators O(chunks*k)
            if s.size > k:
                kth = np.partition(s, s.size - k)[s.size - k]
                keep = s >= kth
                r, s = r[keep], s[keep]
            idx = np.lexsort((r, -s))[:k]
            cand_r[ci].append(r[idx])
            cand_s[ci].append(s[idx])
    out_q, out_r, out_s = [], [], []
    for ci in range(nq):
        if not cand_r[ci]:
            continue
        r = np.concatenate(cand_r[ci])
        s = np.concatenate(cand_s[ci])
        # exact partial order: (score desc, row_id asc)
        idx = np.lexsort((r, -s))[:k]
        out_q.append(np.full(idx.size, qid_arr[ci], dtype=np.int32))
        out_r.append(r[idx])
        out_s.append(s[idx])
    if not out_q:
        return None
    return pd.DataFrame({
        "query_id": np.concatenate(out_q),
        "row_id": np.concatenate(out_r),
        "score": np.concatenate(out_s),
    })


class SearchIndex:
    """Reader over one index directory (reference Q14 load_index_reader)."""

    #: tombstone sets up to this size are collected to the driver and
    #: broadcast into decode UDFs; past it, queries switch to a
    #: left-anti join against the tombstones table so the driver never
    #: materializes the id array (ClickHouse-part scale deletes).
    TOMBSTONE_BROADCAST_MAX = 1_000_000
    #: per-task cap (bytes) on the batch scorer's dense matrices; wide
    #: batches chunk the doc axis to stay under it (results unchanged)
    BATCH_MATRIX_BUDGET = 128 * 1024 * 1024

    def __init__(self, spark: SparkSession | None, index_path: str):
        layout.recover_swaps(index_path)
        self.spark = spark
        self.index_path = index_path
        self.meta = IndexMeta.load(index_path)
        self.config = IndexConfig.from_meta_json(self.meta.config_json)
        self._postings_df: DataFrame | None = None  # lazy spark reads
        self._stats_df: DataFrame | None = None
        self._tombstones: np.ndarray | None = None  # lazy
        self._tombstone_n: int | None = None  # lazy count (cheap parquet agg)
        self._stats_cache: dict | None = None  # optional driver-side dict
        self._bcast_pool: list = []  # broadcasts of the most recent query
        self._local_cache_max = 4096  # entry cap of the in-process LRUs
        # per-generation state, prepared plans included: repeated query
        # shapes skip the driver-side plan build (~150 ms of py4j
        # round-trips), and a cached plan embeds the tombstone array
        # and idf constants of the index state it was compiled against
        self._caches = _ReaderCaches(self)

    @classmethod
    def open_local(cls, index_path: str) -> "SearchIndex":
        """Embedded, Spark-free reader — the reference's own deployment
        shape (an in-process engine behind FFI, no cluster:
        src/search/implements/api_myscale_local.rs).  Every in-process
        tier works (``bm25_search_local``/``_auto``, the bitmap family,
        stats, deletes); distributed methods raise a clear error.
        Postings/stats/tombstones are read via pyarrow directly; the
        stats cache is enabled eagerly (there is no per-query Spark
        lookup to fall back to)."""
        ix = cls(None, index_path)
        ix.enable_stats_cache()
        ix.enable_local_cache()
        return ix

    def _require_spark(self) -> SparkSession:
        if self.spark is None:
            raise RuntimeError(
                "this SearchIndex was opened with open_local() (no "
                "SparkSession); distributed paths are unavailable — use "
                "the bm25_search_local/bitmap tiers or reopen with "
                "SearchIndex(spark, path)")
        return self.spark

    @property
    def _postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = self._require_spark().read.parquet(
                os.path.join(self.index_path, POSTINGS_DIR))
        return self._postings_df

    @property
    def _stats(self) -> DataFrame:
        if self._stats_df is None:
            self._stats_df = self._require_spark().read.parquet(
                os.path.join(self.index_path, STATS_DIR))
        return self._stats_df

    # ------------------------------------------------------------------ utils
    def reload(self) -> None:
        """Reference B5/Q14 'reader reload on commit': re-open the index
        tables so appended segments / new deletes become visible."""
        self.meta = IndexMeta.load(self.index_path)
        self.config = IndexConfig.from_meta_json(self.meta.config_json)
        self._postings_df = None
        self._stats_df = None
        if self._stats_cache is not None:
            self.enable_stats_cache()
        self._tombstones = None
        self._tombstone_n = None
        self._caches = _ReaderCaches(self)

    def close(self) -> None:
        """Reference ffi_free_index_reader analog (Q14): release every
        driver-side resource this reader holds — broadcasts, decoded-
        postings LRUs, stats/bitmap caches, the open postings files.
        The object stays usable; the next query simply re-warms."""
        self._swap_broadcast_pool()
        self._stats_cache = None
        self._tombstones = None
        self._tombstone_n = None
        self._caches = _ReaderCaches(self)

    @property
    def docs(self) -> DataFrame:
        """The docs table.  docs_mode='view' indexes reconstruct it
        lazily from the pinned source-parquet snapshot (doc_id =
        per-file offset + ``_metadata.row_index``, sha256 audit columns
        computed on read) — row- and schema-identical to what a
        docs_mode='copy' build would have written, without the build
        ever copying the corpus."""
        spark = self._require_spark()
        if getattr(self.meta, "docs_mode", None) == "view":
            import json as _json
            with open(os.path.join(self.index_path,
                                   layout.DOCS_VIEW_FILE)) as f:
                spec = _json.load(f)
            keep = list(spec["source_cols"]) if spec["store_doc"] else [
                c for c in spec["source_cols"]
                if c not in spec["index_cols"]]
            if not spec["files"]:
                # zero-doc view build: there are no source files to
                # read, so serve a typed empty docs table (ADVICE r4 —
                # spark.read.parquet(*[]) cannot infer a schema; copy
                # mode already served empty-index reads fine).  Types
                # come from the source schema the build recorded;
                # legacy specs without it fall back to string.
                types = spec.get("source_schema", {})
                ddl = ", ".join(
                    [f"`{c}` {types.get(c, 'string')}" for c in keep]
                    + ["`doc_id` bigint"]
                    + [f"`sha256_{c}` string"
                       for c in spec["index_cols"]])
                return spark.createDataFrame([], ddl)
            offs_df = spark.createDataFrame(
                [(fp, int(off)) for fp, off, _n in spec["files"]],
                "_fp string, _off long")
            src = spark.read.parquet(*[fp for fp, _o, _n in spec["files"]])
            sha_cols = [
                F.sha2(F.coalesce(F.col(c), F.lit("")), 256).alias(f"sha256_{c}")
                for c in spec["index_cols"]
            ]
            return (src.withColumn("_fp", F.col("_metadata.file_path"))
                    .withColumn("_ri", F.col("_metadata.row_index"))
                    .join(F.broadcast(offs_df), "_fp")
                    .withColumn("doc_id", F.col("_off") + F.col("_ri"))
                    .select(*keep, "doc_id", *sha_cols))
        return spark.read.parquet(os.path.join(self.index_path, DOCS_DIR))

    def _tombstone_df(self) -> DataFrame | None:
        """Raw tombstones table (may contain duplicates) or None."""
        path = os.path.join(self.index_path, TOMBSTONES_DIR)
        if not data_files(path):
            return None
        return self._require_spark().read.parquet(path)

    def _tombstone_count(self) -> int:
        """Distinct tombstoned ids — one cheap column-pruned agg, cached."""
        if self._tombstone_n is None:
            if self.spark is None:
                self._tombstone_n = int(self._tombstone_array().size)
            else:
                df = self._tombstone_df()
                self._tombstone_n = (
                    0 if df is None
                    else df.agg(F.count_distinct("doc_id")).collect()[0][0])
        return self._tombstone_n

    def _tombstone_array(self) -> np.ndarray:
        """Materialized sorted id array — the in-process tier (the driver
        IS the engine there) and small delete sets.  Distributed query
        paths must go through :meth:`_tombstone_small_array` instead so
        large delete sets stay as a DataFrame anti-join."""
        if self._tombstones is None:
            path = os.path.join(self.index_path, TOMBSTONES_DIR)
            ids = np.empty(0, dtype=np.int64)
            if not data_files(path):
                pass
            elif self.spark is None:
                import pyarrow.dataset as ds
                ids = ds.dataset(path).to_table(
                    columns=["doc_id"])["doc_id"].to_numpy()
            else:
                rows = self._tombstone_df().select("doc_id").collect()
                ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
            self._tombstones = np.unique(ids.astype(np.int64))
        return self._tombstones

    def _tombstone_small_array(self) -> np.ndarray | None:
        """Tombstones as a broadcastable array, or None when the delete
        set exceeds TOMBSTONE_BROADCAST_MAX (callers then anti-join
        against ``_tombstone_df()`` — no driver materialization).  The
        cap also applies to an already-materialized cache (the
        in-process tier may have collected a huge set): distributed
        paths must not broadcast it."""
        if self._tombstones is not None:
            if self._tombstones.size > self.TOMBSTONE_BROADCAST_MAX:
                return None
            return self._tombstones
        if self._tombstone_count() > self.TOMBSTONE_BROADCAST_MAX:
            return None
        return self._tombstone_array()

    def _anti_tombstones(self, df: DataFrame, id_col: str) -> DataFrame:
        """Large-delete-set path: distributed anti-join on the id."""
        tomb = self._tombstone_df()
        if tomb is None:
            return df
        return df.join(
            tomb.select(F.col("doc_id").alias(id_col)).distinct(),
            id_col, "left_anti")

    def enable_stats_cache(self) -> None:
        """Load the whole term dictionary into a driver dict so stats
        lookups stop costing one Spark job per query.  Appropriate for
        small/medium vocabularies (code corpora: ~1e6 terms * ~40 B);
        at web-scale vocab leave it off and the lookup stays a
        bucket-pruned parquet filter."""
        if self.spark is None:
            import pyarrow.dataset as ds
            tbl = ds.dataset(
                os.path.join(self.index_path, STATS_DIR),
                partitioning="hive").to_table(
                columns=["col", "term", "df"]).to_pandas()
            self._stats_cache = {
                (c, t): int(d) for c, t, d in
                zip(tbl["col"], tbl["term"], tbl["df"])
            }
            return
        self._stats_cache = {
            (r["col"], r["term"]): int(r["df"])
            for r in self._stats.collect()
        }

    def _analyzers(self) -> dict:
        return {c: self.config.analyzer(c) for c in self.config.columns}

    def _pos_analyzers(self) -> dict | None:
        """Per-column position-annotated analyzers for quoted-phrase
        parsing — only when the index stores positions (phrase nodes
        exist); None otherwise so the parser keeps the cheap path."""
        if not self.config.with_positions:
            return None
        return {c: self.config.analyzer_pos(c)
                for c in self.config.columns}

    def _candidate_postings(self, atoms: list[tuple[str | None, str]]) -> DataFrame:
        terms = sorted({t for _, t in atoms})
        buckets = sorted({term_bucket(t, self.config.n_buckets) for t in terms})
        cols = sorted({c for c, _ in atoms if c is not None})
        # one F.expr instead of isin() Column chains: each py4j Column
        # construction is a driver round-trip; Catalyst parses the text
        # into the identical In/And predicates (pushdown unaffected,
        # plan-asserted in test_plans)
        cond = (f"bucket IN ({_sql_int_list(buckets)}) "
                f"AND term IN ({_sql_str_list(terms)})")
        if cols and not any(c is None for c, _ in atoms):
            cond += f" AND col IN ({_sql_str_list(cols)})"
        return self._postings.where(F.expr(cond))

    # ---------------------------------------------------------------- stats
    def _stats_lookup_df(self, terms: list[str]) -> DataFrame:
        """Per-query term-stats scan.  Stats are written
        partitionBy(bucket), so the bucket predicate prunes partition
        directories and the term filter pushes into the row-group scan —
        mirroring _candidate_postings (plan-asserted in test_plans)."""
        buckets = sorted({term_bucket(t, self.config.n_buckets)
                          for t in terms})
        return self._stats.where(F.expr(
            f"bucket IN ({_sql_int_list(buckets)}) "
            f"AND term IN ({_sql_str_list(sorted(set(terms)))})"))

    def local_statistics(self, tokens_by_col: dict[str, list[str]]) -> Statistics:
        """This index's contribution to merged global stats (reference
        get_doc_freq + get_total_num_tokens + get_total_num_docs)."""
        pairs = [(c, t) for c, toks in tokens_by_col.items() for t in toks]
        docs_freq = []
        if pairs and self._stats_cache is None and self.spark is None:
            self.enable_stats_cache()  # closed open_local() reader
        if pairs and self._stats_cache is not None:
            for c, t in dict.fromkeys(pairs):
                df = self._stats_cache.get((c, t))
                if df is not None:
                    docs_freq.append((t, c, df))
        elif pairs:
            terms = sorted({t for _, t in pairs})
            rows = self._stats_lookup_df(terms).collect()
            want = set(pairs)
            for r in rows:
                if (r["col"], r["term"]) in want:
                    docs_freq.append((r["term"], r["col"], int(r["df"])))
        return Statistics(
            docs_freq=docs_freq,
            total_num_tokens=dict(self.meta.total_tokens or {}),
            total_num_docs=self.meta.total_docs,
        )

    def _scoring_env(self, pairs, statistics: Statistics | None
                     ) -> _ScoringEnv:
        """Resolve df/idf/avgdl inputs for the concrete (col, term)
        ``pairs`` of one query — the single place every tier reads
        injected vs local statistics from."""
        by_col: dict[str, list[str]] = {}
        for c, t in pairs:
            by_col.setdefault(c, []).append(t)
        local = self.local_statistics(by_col)
        injected = statistics is not None and bool(statistics.docs_freq)
        use = statistics if injected else local
        n_docs = use.total_num_docs or 1
        df = {(c, t): d for (t, c, d) in use.docs_freq}
        if injected:
            for (t, c, d) in local.docs_freq:
                df.setdefault((c, t), d)
        avgdl = {c: use.total_num_tokens.get(c, 0) / n_docs
                 for c in self.config.columns}
        return _ScoringEnv(df, n_docs, avgdl, injected)

    def get_doc_freq(self, sentence: str) -> list[tuple[str, str, int]]:
        toks = {c: self._analyzers()[c](sentence) for c in self.config.columns}
        return self.local_statistics(toks).docs_freq

    def get_total_num_docs(self) -> int:
        return self.meta.total_docs

    def get_total_num_tokens(self, col: str | None = None):
        tok = self.meta.total_tokens or {}
        return tok if col is None else int(tok.get(col, 0))

    def get_indexed_doc_counts(self) -> int:
        return self.meta.total_docs - self._tombstone_count()

    # ---------------------------------------------------------------- deletes
    def delete_row_ids(self, row_ids: list[int]) -> bool:
        """B6: tombstone docs; they disappear from every query after this
        'commit' (non-existent ids tolerated, like the reference; an
        empty set is a no-op commit that still returns True)."""
        if not row_ids:
            return True
        pdf = pd.DataFrame({"doc_id": np.asarray(sorted(set(row_ids)), dtype=np.int64)})
        tomb_dir = os.path.join(self.index_path, TOMBSTONES_DIR)
        if self.spark is None:
            # embedded tier: append a tombstone part file directly.  It
            # is written under a '.'-prefixed name (skipped by pyarrow
            # datasets and Spark) and renamed into place, so a concurrent
            # reader never opens a half-written file
            import uuid

            import pyarrow as pa
            import pyarrow.parquet as pq
            os.makedirs(tomb_dir, exist_ok=True)
            name = f"part-local-{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(tomb_dir, "." + name)
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           tmp)
            os.replace(tmp, os.path.join(tomb_dir, name))
        else:
            self._require_spark().createDataFrame(pdf).write.mode("append").parquet(
                tomb_dir)
        self.reload()
        return True

    # ---------------------------------------------------------------- scoring
    def _atom_score_env(
        self,
        atoms: list[tuple[str | None, str]],
        stats: Statistics | None,
        alive_bitmap: bytes | None,
        atom_ids: list[int],
    ):
        """Broadcast scoring environment shared by the decode paths:
        (b_env, anti_join_tombs) with b_env.value = (subs, idf_map,
        avgdl, tomb, alive_bitmap) — ONE broadcast per query, not five;
        each TorrentBroadcast costs a driver round-trip (~4 ms) that
        shows up directly in single-query p50."""
        # atom subscription: concrete (col, term) -> [atom ids]
        subs: dict[tuple[str, str], list[int]] = {}
        for i, (col, term) in zip(atom_ids, atoms):
            for c in ([col] if col is not None else self.config.columns):
                subs.setdefault((c, term), []).append(i)
        env = self._scoring_env(subs, stats)
        idf_map = {k: env.idf(*k) for k in subs}
        tomb = self._tombstone_small_array()
        anti_join_tombs = tomb is None  # large delete set: DF anti-join below
        if anti_join_tombs:
            tomb = np.empty(0, dtype=np.int64)
        return (self._bcast((subs, idf_map, env.avgdl, tomb, alive_bitmap)),
                anti_join_tombs)

    def _scored_atoms_df(
        self,
        atoms: list[tuple[str | None, str]],
        stats: Statistics | None,
        alive_bitmap: bytes | None,
        atom_ids: list[int] | None = None,
    ) -> DataFrame:
        """Candidates -> (doc_id, atom, score) via vectorized decode UDF.

        ``atom_ids`` overrides the emitted atom id per input atom (used
        when terms share an atom space with phrase atoms)."""
        cfg = self.config
        k1, b = cfg.k1, cfg.b
        block_size = cfg.block_size
        if atom_ids is None:
            atom_ids = list(range(len(atoms)))
        b_env, anti_join_tombs = self._atom_score_env(
            atoms, stats, alive_bitmap, atom_ids)
        norm_table = FIELD_NORMS_TABLE  # tiny, ships in closure

        def decode_score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            subs, idf_map, avgdl, tombs, alive = b_env.value
            for pdf in it:
                outs_doc, outs_atom, outs_score = [], [], []
                for r in pdf.itertuples(index=False):
                    key = (r.col, r.term)
                    atom_ids = subs.get(key)
                    if not atom_ids:
                        continue
                    doc_ids, tfs, norm_ids = layout.decode_blocks(
                        r.block_first, r.deltas, r.tfs, r.norms, block_size
                    )
                    mask = np.ones(doc_ids.shape[0], dtype=bool)
                    if tombs.size:
                        mask &= ~np.isin(doc_ids, tombs, assume_unique=False)
                    if alive is not None:
                        mask &= mask_for_row_ids(doc_ids, alive)
                    if not mask.all():
                        doc_ids, tfs, norm_ids = doc_ids[mask], tfs[mask], norm_ids[mask]
                    if doc_ids.size == 0:
                        continue
                    norm_d = bm25.doc_norm(
                        norm_table[norm_ids], avgdl.get(r.col, 1.0), k1, b
                    )
                    scores = bm25.term_score(
                        tfs, idf_map[key], norm_d, k1
                    )
                    for a in atom_ids:
                        outs_doc.append(doc_ids)
                        outs_atom.append(np.full(doc_ids.shape[0], a, dtype=np.int32))
                        outs_score.append(scores)
                if outs_doc:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(outs_doc),
                            "atom": np.concatenate(outs_atom),
                            "score": np.concatenate(outs_score),
                        }
                    )

        # project to exactly the decode inputs BEFORE mapInPandas: Spark
        # cannot prune columns through a pandas UDF, so without this the
        # scan reads block-max metadata and positions the exact scorer
        # never touches (plan-asserted in test_plans)
        cand = self._candidate_postings(atoms).select(
            "col", "term", "block_first", "deltas", "tfs", "norms")
        out = cand.mapInPandas(decode_score, "doc_id long, atom int, score double")
        if anti_join_tombs:
            out = self._anti_tombstones(out, "doc_id")
        return out

    def _scored_atoms_packed(
        self,
        atoms: list[tuple[str | None, str]],
        stats: Statistics | None,
        alive_bitmap: bytes | None,
        atom_ids: list[int],
        n_subs: int,
    ) -> DataFrame:
        """Candidates -> packed (shard, sub, atom, doc_ids, scores) rows.

        Array-valued sibling of ``_scored_atoms_df`` for the batch
        scorer: instead of exploding every scored posting into a scalar
        (doc_id, atom, score) row — 16M shuffle rows for a 1000-query
        workload on the 960k corpus, whose per-row shuffle/Arrow
        overhead dominated the stage — each decoded (col, term, shard)
        posting row ships as at most ``n_subs`` rows carrying the doc
        ids and scores as binary blobs.  ``sub = doc_id % n_subs``
        depends only on the doc, so every atom of a doc lands in the
        same (shard, sub) group and the downstream kernel still sees
        complete documents; n_subs restores full shuffle parallelism
        when the corpus has fewer shards than the session has tasks
        (at cluster scale shards outnumber tasks and n_subs is 1).
        Caller must hold the small-tombstone tier (masks apply in the
        decode; the anti-join tier falls back to the scalar path)."""
        cfg = self.config
        k1, b = cfg.k1, cfg.b
        block_size = cfg.block_size
        b_env, anti_join_tombs = self._atom_score_env(
            atoms, stats, alive_bitmap, atom_ids)
        if anti_join_tombs:
            raise ValueError("packed decode requires the broadcast "
                             "tombstone tier")  # caller gates on this
        norm_table = FIELD_NORMS_TABLE

        def decode_pack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import time as _time
            t_start = _time.time()
            subs, idf_map, avgdl, tombs, alive = b_env.value
            for pdf in it:
                o_shard, o_sub, o_atom = [], [], []
                o_docs, o_scores = [], []
                for r in pdf.itertuples(index=False):
                    key = (r.col, r.term)
                    aids = subs.get(key)
                    if not aids:
                        continue
                    doc_ids, tfs, norm_ids = layout.decode_blocks(
                        r.block_first, r.deltas, r.tfs, r.norms, block_size)
                    mask = np.ones(doc_ids.shape[0], dtype=bool)
                    if tombs.size:
                        mask &= ~np.isin(doc_ids, tombs)
                    if alive is not None:
                        mask &= mask_for_row_ids(doc_ids, alive)
                    if not mask.all():
                        doc_ids, tfs, norm_ids = (doc_ids[mask], tfs[mask],
                                                  norm_ids[mask])
                    if doc_ids.size == 0:
                        continue
                    norm_d = bm25.doc_norm(
                        norm_table[norm_ids], avgdl.get(r.col, 1.0),
                        k1, b)
                    scores = bm25.term_score(tfs, idf_map[key], norm_d,
                                             k1)
                    shard = int(r.shard)
                    if n_subs <= 1:
                        spans = [(0, doc_ids.tobytes(), scores.tobytes())]
                    else:
                        sub_of = doc_ids % n_subs
                        spans = []
                        for sub in range(n_subs):
                            m = sub_of == sub
                            if m.any():
                                spans.append((sub, doc_ids[m].tobytes(),
                                              scores[m].tobytes()))
                    for sub, d_b, s_b in spans:
                        for a in aids:
                            o_shard.append(shard)
                            o_sub.append(sub)
                            o_atom.append(a)
                            o_docs.append(d_b)
                            o_scores.append(s_b)
                if o_shard:
                    yield pd.DataFrame({
                        "shard": pd.Series(o_shard, dtype="int32"),
                        "sub": pd.Series(o_sub, dtype="int32"),
                        "atom": pd.Series(o_atom, dtype="int32"),
                        "doc_ids": o_docs,
                        "scores": o_scores,
                    })
            _kernel_prof_emit("decode_pack", {
                "task_s": round(_time.time() - t_start, 4)})

        cand = self._candidate_postings(atoms).select(
            "shard", "col", "term", "block_first", "deltas", "tfs", "norms")
        return cand.mapInPandas(
            decode_pack,
            "shard int, sub int, atom int, doc_ids binary, scores binary")

    def _empty_scores_df(self) -> DataFrame:
        """Cached empty (row_id, score) frame — createDataFrame costs a
        ~20 ms driver round-trip, too much to pay on every query just in
        case the tree is empty."""
        c = self._caches
        if c.empty_scores is None:
            c.empty_scores = self._require_spark().createDataFrame(
                [], "row_id long, score double")
        return c.empty_scores

    def _bcast(self, obj):
        """Broadcast with lifecycle: kept for the current query, released
        (unpersist, not destroy — late-running lazy plans re-broadcast on
        demand) when the next query swaps the pool."""
        b = self._require_spark().sparkContext.broadcast(obj)
        self._bcast_pool.append(b)
        return b

    def _swap_broadcast_pool(self) -> None:
        """Release broadcasts from the previous query.  Called at the
        start of each query build so repeated bm25_search/_batch calls
        don't accumulate executor/driver broadcast blocks (the prior
        behavior leaked one (W, P, ...) tuple per batch call)."""
        for b in self._bcast_pool:
            try:
                b.unpersist(blocking=False)
            except Exception:
                pass
        self._bcast_pool = []

    def _pin_partitions(self) -> int:
        """Partition count for throughput-path (batch) shuffles: the
        session's configured shuffle parallelism — the same number a
        non-adaptive plan would use, so the task DAG is identical at
        every executor count (north_rule's N vs 4N comparison)."""
        spark = self._require_spark()
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            return spark.sparkContext.defaultParallelism * 4

    def _per_doc_scores(self, scored: DataFrame,
                        pre_agg: bool = True,
                        pin_partitions: int | None = None) -> DataFrame:
        """(doc_id, atom, score) rows -> (doc_id, sc map<atom,score>).

        Fixed-width hash aggregations regardless of the number of atoms
        — instead of a 2-expressions-per-atom wide aggregate, which
        exceeds janino's 64 KB generated-method limit at a few hundred
        atoms and silently drops the whole stage to interpreted
        execution (the scale cliff ADVICE.md flagged on the batch path).

        ``pre_agg=False`` skips the (doc_id, atom) sum shuffle: the
        shard layout guarantees one posting row per (col, term, doc),
        so when every atom subscribes to exactly one concrete
        (col, term) the (doc, atom) pairs are already unique and the
        map build's own shuffle is the only one needed.  Callers MUST
        keep pre_agg=True when any atom spans columns (bare NLQ terms)
        — duplicate map keys would throw at build time otherwise.

        ``pin_partitions``: force the per-doc exchange to exactly this
        many partitions via an explicit ``repartition(n, doc_id)``.
        REPARTITION_BY_NUM shuffles are exempt from AQE partition
        coalescing, which sizes stages by shuffle BYTES — blind to
        downstream Python compute.  On the 960k-doc 1000-query batch,
        AQE coalesced the ~350 MB per-doc shuffle to 6 tasks while the
        stage carried ~390 s of Arrow/numpy GEMM work and ~11 s of JVM
        CPU, capping speedup at (1→4 cores) 2.6x; pinning restores an
        identical task DAG at every parallelism level.  Because
        hash(doc_id) satisfies the clustering of BOTH aggregations, the
        pinned exchange also replaces the pre_agg shuffle — one
        exchange total on every path.  Single-query callers leave this
        None: their per-doc volume is latency-bound and AQE coalescing
        is the right call there."""
        if pin_partitions:
            scored = scored.repartition(pin_partitions, "doc_id")
        if pre_agg:
            scored = (scored.groupBy("doc_id", "atom")
                      .agg(F.sum("score").alias("s")))
        else:
            scored = scored.select("doc_id", "atom",
                                   F.col("score").alias("s"))
        return scored.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("atom"), F.col("s")))
            ).alias("sc"))

    def _scored_phrases_df(
        self,
        phrase_plans: list,
        stats: Statistics | None,
        alive_bitmap: bytes | None,
        packed: bool = False,
        n_subs: int = 1,
    ) -> DataFrame:
        """Position-verified phrase scoring for EVERY phrase atom of a
        query/batch in ONE grouped-map pass -> (doc_id, atom, score),
        or packed (shard, sub, atom, doc_ids, scores) blob rows when
        ``packed=True`` (unioned with ``_scored_atoms_packed`` output
        so phrase-containing batches ride the packed kernel; requires
        the broadcast tombstone tier).

        ``phrase_plans``: [(atom_id, col, terms, slop, offsets|None)].

        Shards are disjoint doc ranges, so grouping candidate posting
        rows by shard co-locates every phrase term's postings for the
        same documents in one applyInPandas group: decode each (col,
        term) once (shared across atoms that repeat a term), intersect
        the doc sets per atom, verify adjacency on the stored
        positions, and score surviving docs as the sum of member term
        BM25 scores.  Scales like the WAND path — work is per-shard,
        no driver round-trip.  One plan regardless of atom count: the
        per-atom union of grouped-maps this replaces cost ~70 s of
        driver-side Catalyst/janino on a 200-phrase batch (round-4
        fuzz observation) while this plans in constant time.
        """
        if not self.config.with_positions:
            raise ValueError(
                "phrase query requires an index built with "
                "IndexConfig.with_positions=True")
        cols_terms: dict[str, set] = {}
        for (_aid, col, terms, _slop, _offs) in phrase_plans:
            cols_terms.setdefault(col, set()).update(terms)
        env = self._scoring_env(
            [(c, t) for c, ts in cols_terms.items() for t in sorted(ts)],
            stats)
        plans = [(int(aid), col, list(terms),
                  {t: env.idf(col, t) for t in terms}, env.avgdl[col],
                  int(slop), tuple(offs) if offs else None)
                 for (aid, col, terms, slop, offs) in phrase_plans]
        k1, b = self.config.k1, self.config.b
        bs = self.config.block_size
        tomb = self._tombstone_small_array()
        anti_join_tombs = tomb is None
        if packed and anti_join_tombs:
            raise ValueError("packed phrase scoring requires the "
                             "broadcast tombstone tier")  # caller gates
        b_env = self._bcast((plans,
                             np.empty(0, np.int64) if anti_join_tombs
                             else tomb, alive_bitmap))

        def phrase_docs_scores(pdf: pd.DataFrame):
            """[(atom_id, docs, scores)] for atoms matching this shard."""
            plans_l, tombs, alive = b_env.value
            groups = {k: g for k, g in
                      pdf.groupby(["col", "term"], sort=False)}
            decoded: dict = {}
            results = []
            for (aid, col, terms_l, idf_m, avgdl_l, slop_l,
                 offs_l) in plans_l:
                per_term = {}
                for t in terms_l:
                    key = (col, t)
                    if key not in decoded:
                        sub = groups.get(key)
                        if sub is None or not len(sub):
                            decoded[key] = None
                        else:
                            runs = []
                            for r in sub.itertuples(index=False):
                                d, tf, nm = layout.decode_blocks(
                                    r.block_first, r.deltas, r.tfs,
                                    r.norms, bs)
                                flat, _ = layout.decode_positions(
                                    r.positions,
                                    np.frombuffer(r.tfs, np.uint32))
                                runs.append((d, tf, nm, flat))
                            decoded[key] = _assemble_phrase_runs(runs)
                    if decoded[key] is None:
                        per_term = None  # AND: term absent in shard
                        break
                    per_term[t] = decoded[key]
                if per_term is None:
                    continue
                docs, scores = _eval_phrase(terms_l, per_term, idf_m,
                                            avgdl_l, k1, b, slop_l,
                                            offs_l)
                if docs.size and tombs.size:
                    keep = ~np.isin(docs, tombs)
                    docs, scores = docs[keep], scores[keep]
                if docs.size and alive is not None:
                    keep = mask_for_row_ids(docs, alive)
                    docs, scores = docs[keep], scores[keep]
                if docs.size:
                    results.append((aid, docs, scores))
            return results

        def phrase_score(pdf: pd.DataFrame) -> pd.DataFrame:
            results = phrase_docs_scores(pdf)
            if not results:
                return pd.DataFrame({"doc_id": np.empty(0, np.int64),
                                     "atom": np.empty(0, np.int32),
                                     "score": np.empty(0, np.float64)})
            return pd.DataFrame({
                "doc_id": np.concatenate([d for _, d, _ in results]),
                "atom": np.concatenate(
                    [np.full(d.size, aid, dtype=np.int32)
                     for aid, d, _ in results]),
                "score": np.concatenate([s for _, _, s in results]),
            })

        def phrase_pack(pdf: pd.DataFrame) -> pd.DataFrame:
            results = phrase_docs_scores(pdf)
            o_shard, o_sub, o_atom, o_docs, o_scores = [], [], [], [], []
            shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
            for aid, docs, scores in results:
                if n_subs <= 1:
                    o_shard.append(shard)
                    o_sub.append(0)
                    o_atom.append(aid)
                    o_docs.append(docs.tobytes())
                    o_scores.append(scores.tobytes())
                else:
                    sub_of = docs % n_subs
                    for sub in range(n_subs):
                        m = sub_of == sub
                        if m.any():
                            o_shard.append(shard)
                            o_sub.append(sub)
                            o_atom.append(aid)
                            o_docs.append(docs[m].tobytes())
                            o_scores.append(scores[m].tobytes())
            return pd.DataFrame({
                "shard": pd.Series(o_shard, dtype="int32"),
                "sub": pd.Series(o_sub, dtype="int32"),
                "atom": pd.Series(o_atom, dtype="int32"),
                "doc_ids": pd.Series(o_docs, dtype=object),
                "scores": pd.Series(o_scores, dtype=object),
            })

        buckets = sorted({term_bucket(t, self.config.n_buckets)
                          for ts in cols_terms.values() for t in ts})
        col_cond = None
        for c, ts in cols_terms.items():
            cc = (F.col("col") == c) & F.col("term").isin(sorted(ts))
            col_cond = cc if col_cond is None else (col_cond | cc)
        cand_rows = self._postings.where(
            F.col("bucket").isin(buckets) & col_cond
        ).select("shard", "col", "term", "block_first", "deltas", "tfs",
                 "norms", "positions")
        if packed:
            return cand_rows.groupBy("shard").applyInPandas(
                phrase_pack,
                "shard int, sub int, atom int, doc_ids binary, "
                "scores binary")
        out = cand_rows.groupBy("shard").applyInPandas(
            phrase_score, "doc_id long, atom int, score double")
        if anti_join_tombs:
            out = self._anti_tombstones(out, "doc_id")
        return out

    def bm25_search(
        self,
        sentence: str,
        column_names: list[str] | None = None,
        top_k: int = 10,
        operator_or: bool = False,
        alive_bitmap: bytes | None = None,
        enable_nlq: bool = False,
        statistics: Statistics | None = None,
        with_docs: bool = False,
        limit: bool = True,
        use_wand: bool = False,
    ) -> DataFrame:
        """Top-k BM25. Returns DataFrame(row_id long, score double) ordered
        by (score desc, row_id asc) — the reference RowIdWithScore total
        order (src/lib.rs:248-266).

        ``use_wand=True`` routes WAND-able trees through the block-max
        WAND scorer (search/wand.py) — doc-range-aligned shards,
        skip-pointer block pruning.  WAND-able: single-column AND
        standard queries, and pure-disjunction trees over any columns
        (standard multi-column OR and flat-OR NLQ).  Phrases, boosts,
        MustNot and nested groups fall back to the exact path.  Delete
        sets of any size keep WAND active (small sets broadcast, large
        sets cogroup per shard)."""
        cache_key = None
        if statistics is None and alive_bitmap is None:
            cache_key = ("bm25", sentence,
                         tuple(column_names) if column_names else None,
                         top_k, operator_or, enable_nlq, with_docs, limit,
                         use_wand)
            hit = self._caches.plans.get(cache_key)
            if hit is not None:
                return hit
        cols = [c for c in (column_names or self.config.columns)
                if c in self.config.columns]
        analyzers = self._analyzers()
        if enable_nlq:
            tree = qt.parse_nlq(
                sentence, cols, analyzers,
                conjunction_by_default=not operator_or,
                phrase_nodes=self.config.with_positions,
                pos_analyzers=self._pos_analyzers(),
            )
        else:
            tokens_by_col = {c: analyzers[c](sentence) for c in cols}
            tree = qt.standard_query_tree(tokens_by_col, operator_or)

        def done(df: DataFrame) -> DataFrame:
            if cache_key is not None:
                self._caches.plans.put(cache_key, df)
            return df

        if tree is None:
            return done(self._empty_scores_df())
        atoms = qt.collect_atoms(tree)
        if not atoms:
            return done(self._empty_scores_df())
        if use_wand and limit:
            plan = self._wand_plan(tree, atoms)
            if plan is not None:
                out = self._bm25_wand(plan[0], top_k, plan[1],
                                      alive_bitmap, statistics)
                if with_docs:
                    out = out.join(
                        self.docs.withColumnRenamed("doc_id", "row_id"),
                        "row_id", "left"
                    ).orderBy(F.desc("score"), F.asc("row_id"))
                return done(out)
        atom_index = {a: i for i, a in enumerate(atoms)}
        term_keys = [a for a in atoms if not qt.is_phrase_key(a)]
        phrase_keys = [a for a in atoms if qt.is_phrase_key(a)]

        self._swap_broadcast_pool()
        parts = []
        if term_keys:
            parts.append(self._scored_atoms_df(
                term_keys, statistics, alive_bitmap,
                atom_ids=[atom_index[a] for a in term_keys]))
        if phrase_keys:
            parts.append(self._scored_phrases_df(
                [(atom_index[a], a[1], list(a[2]), a[3], a[4])
                 for a in phrase_keys],
                statistics, alive_bitmap))
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.unionByName(p)
        # (doc, atom) pairs are already unique when every atom binds one
        # concrete (col, term) — skip the pre-agg shuffle then
        unique_atoms = all(a[0] is not None for a in term_keys)
        per_doc = self._per_doc_scores(scored, pre_agg=not unique_atoms)
        m_sql, s_sql = qt.compile_tree_map_sql(tree, atom_index, "sc")
        matched, score = F.expr(m_sql), F.expr(s_sql)
        out = (
            per_doc.where(matched)
            .select(F.col("doc_id").alias("row_id"), score.alias("score"))
            .orderBy(F.desc("score"), F.asc("row_id"))
        )
        if limit:
            out = out.limit(top_k)
        if with_docs:
            out = out.join(self.docs.withColumnRenamed("doc_id", "row_id"),
                           "row_id", "left").orderBy(F.desc("score"), F.asc("row_id"))
        return done(out)

    def bm25_search_batch(
        self,
        sentences: list[tuple[str, bool]] | list[str],
        column_names: list[str] | None = None,
        top_k: int = 10,
        enable_nlq: bool = False,
        alive_bitmap: bytes | None = None,
        statistics: Statistics | None = None,
    ) -> DataFrame:
        """Batch top-k BM25: N queries compiled into ONE Spark job.

        This is the cluster-scale query-throughput path: instead of one
        driver-coordinated job per query (reference ffi_bm25_search is
        called once per query from ClickHouse — src/lib.rs:210-220), the
        whole query workload shares a single postings scan.  Unique
        (col, term) atoms across all queries are decoded/scored once,
        aggregated per doc once, and every query's boolean tree is
        evaluated as a codegen'd Column expression over that shared
        per-doc row; per-query top-k is a window.  Throughput therefore
        scales with executor count, unlike a per-query collect() loop
        that serializes on the driver.

        ``sentences``: either strings (operator_or=False) or
        (sentence, operator_or) pairs.  Returns
        DataFrame(query_id int, row_id long, score double), top_k rows
        per query ordered by (score desc, row_id asc) within the query —
        the reference RowIdWithScore total order per query.
        """
        from pyspark.sql import Window

        cols = [c for c in (column_names or self.config.columns)
                if c in self.config.columns]
        analyzers = self._analyzers()
        norm = [(s, False) if isinstance(s, str) else (s[0], bool(s[1]))
                for s in sentences]

        trees = []
        for sentence, op_or in norm:
            if enable_nlq:
                tree = qt.parse_nlq(sentence, cols, analyzers,
                                    conjunction_by_default=not op_or,
                                    phrase_nodes=self.config.with_positions,
                                    pos_analyzers=self._pos_analyzers())
            else:
                tokens_by_col = {c: analyzers[c](sentence) for c in cols}
                tree = qt.standard_query_tree(tokens_by_col, op_or)
            trees.append(tree)

        # shared atom space: scores are per-(col, term), query-independent
        atom_index: dict[tuple[str | None, str], int] = {}
        for tree in trees:
            if tree is None:
                continue
            for a in qt.collect_atoms(tree):
                if a not in atom_index:
                    atom_index[a] = len(atom_index)
        empty = self._require_spark().createDataFrame(
            [], "query_id int, row_id long, score double")
        if not atom_index:
            return empty
        atoms = [a for a, _ in sorted(atom_index.items(), key=lambda kv: kv[1])]
        term_keys = [a for a in atoms if not qt.is_phrase_key(a)]
        phrase_keys = [a for a in atoms if qt.is_phrase_key(a)]

        self._swap_broadcast_pool()
        unique_atoms = all(a[0] is not None for a in term_keys)
        # positive groups + query-level exclusion groups per tree: a
        # top-level Bool ('-term' MustNot) is flat-kernel-eligible when
        # its positive AND every excluded member flatten (exclusions
        # change matching only, never score); nested Bools keep the
        # compile path
        flats, excls = [], []
        for t in trees:
            if t is None:
                flats.append(None)
                excls.append([])
                continue
            if isinstance(t, qt.Bool) and t.positive is not None:
                pos = qt.flat_groups_weighted(t.positive)
                egs = [qt.flat_groups_weighted(m) for m in t.must_nots]
                if pos is not None and all(e is not None for e in egs):
                    flats.append(pos)
                    excls.append([g for e in egs for g in e])
                    continue
                flats.append(None)
                excls.append([])
                continue
            flats.append(qt.flat_groups_weighted(t))
            excls.append([])
        all_flat = all(f is not None
                       for t, f in zip(trees, flats) if t is not None)

        if all_flat and self._tombstone_small_array() is not None:
            # hot path: flat trees, broadcast-tier deletes — ship
            # packed per-(shard, sub) posting blobs to the kernel
            # instead of one scalar row per scored posting.  Bare
            # multi-column atoms (unique_atoms False) repeat (doc,
            # atom) once per column; the kernel accumulates them.
            # Phrase atoms arrive as packed blobs from the (already
            # shard-grouped) phrase scorer, unioned below.
            pin = self._pin_partitions()
            n_subs = max(1, -(-pin // self._n_shards()))
            parts = []
            if term_keys:
                parts.append(self._scored_atoms_packed(
                    term_keys, statistics, alive_bitmap,
                    atom_ids=[atom_index[a] for a in term_keys],
                    n_subs=n_subs))
            if phrase_keys:
                parts.append(self._scored_phrases_df(
                    [(atom_index[a], a[1], list(a[2]), a[3], a[4])
                     for a in phrase_keys],
                    statistics, alive_bitmap, packed=True,
                    n_subs=n_subs))
            packed = parts[0]
            for p in parts[1:]:
                packed = packed.unionByName(p)
            cand = self._batch_topk_packed(packed, flats, excls,
                                           atom_index, top_k,
                                           dedup_atoms=not unique_atoms)
        else:
            parts = []
            if term_keys:
                parts.append(self._scored_atoms_df(
                    term_keys, statistics, alive_bitmap,
                    atom_ids=[atom_index[a] for a in term_keys]))
            if phrase_keys:
                parts.append(self._scored_phrases_df(
                    [(atom_index[a], a[1], list(a[2]), a[3], a[4])
                     for a in phrase_keys],
                    statistics, alive_bitmap))
            scored = parts[0]
            for p in parts[1:]:
                scored = scored.unionByName(p)
            if all_flat:
                cand = self._batch_topk_flat(
                    scored, trees, flats, excls, atom_index, top_k,
                    pre_agg=not unique_atoms)
            else:
                per_doc = self._per_doc_scores(
                    scored, pre_agg=not unique_atoms,
                    pin_partitions=self._pin_partitions())
                cand = self._batch_hits_tree(per_doc, trees, atom_index)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("row_id"))
        return (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= top_k)
            .drop("_rn")
            .orderBy("query_id", F.desc("score"), F.asc("row_id"))
        )

    def bm25_search_batch_auto(
        self,
        sentences: list[tuple[str, bool]] | list[str],
        column_names: list[str] | None = None,
        top_k: int = 10,
        enable_nlq: bool = False,
        alive_bitmap: bytes | None = None,
        statistics: Statistics | None = None,
    ) -> DataFrame:
        """Auto-tier twin of :meth:`bm25_search_batch` — same routing
        heuristic as :meth:`bm25_search_auto`: while the postings fit
        the driver (<= AUTO_LOCAL_MAX_BYTES), the batch is answered
        from the warmed in-process tier (a 100-query batch costs
        ~100 warm point lookups, far under one Spark job) and returned
        as the same (query_id, row_id, score) DataFrame; past the
        threshold the corpus belongs to the cluster and the one-job
        packed-kernel plan runs.  Both tiers are row-identical (the
        cross-tier fuzz pins local == batch)."""
        spark = self._require_spark()
        if self._postings_bytes() > self.AUTO_LOCAL_MAX_BYTES:
            return self.bm25_search_batch(
                sentences, column_names=column_names, top_k=top_k,
                enable_nlq=enable_nlq, alive_bitmap=alive_bitmap,
                statistics=statistics)
        norm = [(s, False) if isinstance(s, str) else (s[0], bool(s[1]))
                for s in sentences]
        rows = []
        for qid, (sentence, op_or) in enumerate(norm):
            for rid, score in self.bm25_search_local(
                    sentence, column_names=column_names, top_k=top_k,
                    operator_or=op_or, alive_bitmap=alive_bitmap,
                    enable_nlq=enable_nlq, statistics=statistics):
                rows.append((qid, rid, float(score)))
        return spark.createDataFrame(
            rows, "query_id int, row_id long, score double")

    def _batch_topk_flat(self, scored, trees, flats, excls, atom_index,
                         top_k, pre_agg=False):
        """Per-partition vectorized top-k for flat boolean trees.

        The Spark analog of the reference's per-segment heap + merge_fruits
        (src/search/collector/top_dos_with_bitmap_collector.rs:80-100):
        each task turns its per-doc atom matrix into all-query scores with
        two dense matmuls (docs x atoms @ atoms x groups), applies the
        AND/OR group masks, and emits only its local top-k per query —
        tasks x queries x k rows reach the final global window instead of
        docs x queries.  Avoids the O(docs*queries) explode whose codegen
        also blows the JVM's 64 KB method limit at a few hundred queries.

        Consumes the raw (doc_id, atom, score) rows: co-locating a
        doc's atoms needs only the ``repartition(n, doc_id)`` exchange
        (REPARTITION_BY_NUM — exempt from AQE's byte-based partition
        coalescing, which had sized this Python-heavy stage to 6 tasks;
        n = the session's shuffle parallelism so the task DAG is
        identical at every executor count).  The earlier map<atom,
        score>-per-doc representation cost a JVM hash aggregation over
        every decoded posting, a map-typed Arrow transfer, and a
        ragged per-row Python expansion — all replaced by three
        primitive columns and one vectorized np.unique factorize per
        task.  ``pre_agg=True`` (atoms that span columns, so (doc,
        atom) pairs repeat) keeps the JVM (doc, atom) sum; its
        clustering is satisfied by the same doc_id exchange.  Per-task
        memory is the partition's rows at 24 B each plus the chunked
        dense intermediates (BATCH_MATRIX_BUDGET).
        """
        b = self._flat_plan_bcast(flats, excls, atom_index, top_k)

        def topk_part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # a doc's (atom, score) rows are co-located in this task by
            # the doc_id exchange but may straddle Arrow batch
            # boundaries: gather the whole partition (3 primitive
            # columns, 24 B/row) before factorizing.
            batches = [p for p in it if len(p)]
            if not batches:
                return
            doc_col = np.concatenate(
                [p["doc_id"].to_numpy(dtype=np.int64) for p in batches])
            atom_col = np.concatenate(
                [p["atom"].to_numpy(dtype=np.int64) for p in batches])
            score_col = np.concatenate(
                [p["score"].to_numpy(dtype=np.float64) for p in batches])
            del batches
            out = _flat_score_topk(b.value, doc_col, atom_col, score_col)
            if out is not None:
                yield out

        rows = scored.repartition(self._pin_partitions(), "doc_id")
        if pre_agg:
            # duplicate (doc, atom) pairs (bare NLQ atoms spanning
            # columns) sum JVM-side; hash(doc_id) already satisfies
            # this grouping so no second exchange appears
            rows = (rows.groupBy("doc_id", "atom")
                    .agg(F.sum("score").alias("score")))
        return rows.mapInPandas(
            topk_part, "query_id int, row_id long, score double")

    def _flat_plan_bcast(self, flats, excls, atom_index, top_k,
                         dedup_atoms=False):
        """Broadcast plan arrays for the flat batch kernel
        (``_flat_score_topk``): the atom->group incidence matrix W (and
        its float32 twin for the count matmul — counts are small exact
        integers and the stage is memory-bandwidth-bound), group AND
        arities, and the query-major group permutation that lets the
        kernel aggregate group scores into query scores with a
        segmented np.add.reduceat instead of a dense (n_g x Q) matmul —
        for flat one-group-per-query batches that matrix is the
        IDENTITY, and `score_g @ P` alone cost O(n*n_g*Q) flops, ~1000x
        the useful scoring work at 1000 queries."""
        n_atoms = len(atom_index)
        groups = []  # (qid, [(atom id, weight)], is_and)
        for qid, f in enumerate(flats):
            if f is None:
                continue
            for keys, is_and in f:
                groups.append(
                    (qid, [(atom_index[k], w) for k, w in keys], is_and))
        n_g = len(groups)
        # two incidence matrices: Wc counts matches (multiplicity 1 per
        # occurrence — the AND-arity test compares against gsize), Ws
        # carries score weights (Boost factors are linear in the score,
        # so they distribute onto member atoms; 1.0 without boosts)
        Wc = np.zeros((n_atoms, n_g), dtype=np.float64)
        Ws = np.zeros((n_atoms, n_g), dtype=np.float64)
        gsize = np.zeros(n_g, dtype=np.float64)
        g_and = np.zeros(n_g, dtype=bool)
        g_qid = np.zeros(n_g, dtype=np.int64)
        for gi, (qid, aids, is_and) in enumerate(groups):
            for a, w in aids:  # += : duplicate atoms keep compile_tree's
                Wc[a, gi] += 1.0  # with-multiplicity scoring semantics
                Ws[a, gi] += w
            gsize[gi] = len(aids)
            g_and[gi] = is_and
            g_qid[gi] = qid
        qids = sorted(set(g_qid.tolist()))
        Q = len(qids)
        qpos = {q: i for i, q in enumerate(qids)}
        g_qpos = np.asarray([qpos[q] for q in g_qid.tolist()],
                            dtype=np.int64)
        g_order = np.argsort(g_qpos, kind="stable")
        # every query in qids owns >= 1 group, so these reduceat starts
        # are strictly increasing and cover all Q segments
        g_starts = np.searchsorted(g_qpos[g_order], np.arange(Q))
        qid_arr = np.asarray(qids, dtype=np.int32)

        # exclusion (MustNot) groups: matching-only columns appended
        # AFTER every positive column — they ride the same count
        # matmul and arity test but have no score-weight columns, and
        # the kernel ANDs their negation into the owning query's match
        e_groups = []  # (query position, [atom ids], is_and)
        for qid, egs in enumerate(excls or []):
            if not egs or qid not in qpos:
                continue
            for keys, is_and in egs:
                e_groups.append(
                    (qpos[qid], [atom_index[k] for k, _ in keys], is_and))
        e_groups.sort(key=lambda g: g[0])
        n_e = len(e_groups)
        Wc_e = np.zeros((n_atoms, n_e), dtype=np.float64)
        gsize_e = np.zeros(n_e, dtype=np.float64)
        e_and = np.zeros(n_e, dtype=bool)
        for gi, (qp, aids, is_and) in enumerate(e_groups):
            for a in aids:
                Wc_e[a, gi] += 1.0
            gsize_e[gi] = len(aids)
            e_and[gi] = is_and
        e_qpos_all = np.asarray([g[0] for g in e_groups], dtype=np.int64)
        e_qpos = np.unique(e_qpos_all)
        e_starts = np.searchsorted(e_qpos_all, e_qpos)

        Wscore_o = Ws[:, g_order]
        Wcount32 = np.concatenate(
            [Wc[:, g_order], Wc_e], axis=1).astype(np.float32)
        and_cols = np.where(np.concatenate([g_and[g_order], e_and]))[0]
        n_all = n_g + n_e
        # plan-time CSC of both incidence matrices for the kernel's
        # sparse-W walk (see _flat_score_topk): per positive group, its
        # member atom ids + score weights; per "needed" count column
        # (AND arity + exclusion), its member atom ids + multiplicities.
        # slim (= every positive score weight strictly > 0) is decided
        # here once instead of per task.
        member = Wcount32[:, :n_g] > 0
        slim = bool(np.all(Wscore_o[member] > 0.0)) if member.any() \
            else True
        needed = np.union1d(
            and_cols, np.arange(n_g, n_all)).astype(np.int64)
        nzg, nza = np.nonzero(Wscore_o.T)  # group-major, sorted by group
        wsb = np.searchsorted(nzg, np.arange(n_g + 1))
        wsw64 = Wscore_o[nza, nzg]  # float64, exact-rescore weights
        Wc_needed = np.ascontiguousarray(Wcount32[:, needed])
        nzgc, nzac = np.nonzero(Wc_needed.T)
        wcb = np.searchsorted(nzgc, np.arange(needed.size + 1))
        wcw = Wc_needed[nzac, nzgc]
        csc = (slim, wsb, nza, wsw64.astype(np.float32), wsw64,
               wcb, nzac, wcw, needed)

        return self._bcast((Wscore_o,
                            Wcount32,
                            np.concatenate(
                                [gsize[g_order], gsize_e]
                            ).astype(np.float32),
                            and_cols,
                            g_starts, qid_arr, top_k,
                            self.BATCH_MATRIX_BUDGET,
                            n_g, e_starts, e_qpos, dedup_atoms, csc))

    def _n_shards(self) -> int:
        """Shard count of this index (= ceil(num_parts /
        parts_per_shard), the same mapping the build uses)."""
        pps = max(1, self.config.parts_per_shard)
        return max(1, -(-int(self.meta.num_parts) // pps))

    def _batch_topk_packed(self, packed, flats, excls, atom_index,
                           top_k, dedup_atoms=False):
        """Flat batch kernel over packed (shard, sub, atom, doc_ids,
        scores) rows from ``_scored_atoms_packed``: the exchange
        carries a few thousand binary-blob rows instead of one scalar
        row per scored posting, pinned to the session's shuffle
        parallelism on (shard, sub) — REPARTITION_BY_NUM, exempt from
        AQE's byte-based coalescing, identical task DAG at every
        executor count."""
        b = self._flat_plan_bcast(flats, excls, atom_index, top_k,
                                  dedup_atoms=dedup_atoms)

        def topk_packed(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import time as _time
            t_start = _time.time()
            fetch_s = gather_s = 0.0
            n_rows = n_bytes = 0
            docs, atoms_l, scores = [], [], []
            while True:
                t0 = _time.time()
                pdf = next(it, None)
                fetch_s += _time.time() - t0  # Arrow IPC + shuffle feed
                if pdf is None:
                    break
                t0 = _time.time()
                for r in pdf.itertuples(index=False):
                    d = np.frombuffer(r.doc_ids, dtype=np.int64)
                    docs.append(d)
                    atoms_l.append(np.full(d.size, r.atom, dtype=np.int64))
                    scores.append(np.frombuffer(r.scores, dtype=np.float64))
                    n_rows += 1
                    n_bytes += len(r.doc_ids) + len(r.scores)
                gather_s += _time.time() - t0
            if not docs:
                return
            dump = os.environ.get("TSS_KERNEL_DUMP_DIR")
            if dump:
                # offline-profiling hook: save this task's gathered
                # kernel inputs + plan env once per worker pid, so
                # _flat_score_topk can be profiled outside Spark on
                # real task data (see scripts/kernel_profile.py)
                import pickle as _pickle
                os.makedirs(dump, exist_ok=True)
                path = os.path.join(dump, f"task-{os.getpid()}.pkl")
                if not os.path.exists(path):
                    with open(path, "wb") as f:
                        _pickle.dump({
                            "env": b.value,
                            "doc_col": np.concatenate(docs),
                            "atom_col": np.concatenate(atoms_l),
                            "score_col": np.concatenate(scores),
                        }, f)
            t0 = _time.time()
            out = _flat_score_topk(b.value, np.concatenate(docs),
                                   np.concatenate(atoms_l),
                                   np.concatenate(scores))
            kernel_s = _time.time() - t0
            _kernel_prof_emit("topk_packed", {
                "task_s": round(_time.time() - t_start, 4),
                "arrow_fetch_s": round(fetch_s, 4),
                "row_gather_s": round(gather_s, 4),
                "numpy_kernel_s": round(kernel_s, 4),
                "rows": n_rows, "payload_bytes": n_bytes,
            })
            if out is not None:
                yield out

        rows = packed.repartition(self._pin_partitions(), "shard", "sub")
        return rows.mapInPandas(
            topk_packed, "query_id int, row_id long, score double")

    def _batch_hits_tree(self, per_doc, trees, atom_index):
        """Fallback for non-flat (nested NLQ) trees: explode per-query
        structs.  Chunked so each projection's generated code stays under
        the JVM's 64 KB method limit (janino aborts codegen past it and
        the whole stage silently runs interpreted)."""
        CHUNK = 20
        qstructs = []
        for qid, tree in enumerate(trees):
            if tree is None:
                continue
            m_sql, s_sql = qt.compile_tree_map_sql(tree, atom_index, "sc")
            qstructs.append(F.expr(
                f"struct({qid} AS query_id, {m_sql} AS ok, "
                f"{s_sql} AS score)"))
        parts = []
        for i in range(0, len(qstructs), CHUNK):
            parts.append(
                per_doc.select(
                    F.col("doc_id").alias("row_id"),
                    F.explode(F.array(*qstructs[i:i + CHUNK])).alias("q"),
                )
                .where(F.col("q.ok"))
                .select(F.col("q.query_id").alias("query_id"), "row_id",
                        F.col("q.score").alias("score"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _wand_plan(self, tree, atoms) -> tuple[list, bool] | None:
        """Decide whether ``tree`` can route through the block-max WAND
        scorer.  WAND-able shapes (score = sum of matched atom scores):

        * a single AND group whose atoms live in one column
          (and_mode=True — intersection block skipping), or
        * a pure disjunction of term atoms across any columns
          (and_mode=False), including flat-OR NLQ trees.

        Phrases, boosts, MustNot, nested groups, multi-column AND and
        duplicate atoms fall back to the exact path.  Bare NLQ terms
        (col=None) bind to the column only on a single-column index."""
        if any(qt.is_phrase_key(a) for a in atoms):
            return None
        groups = qt.flat_groups(tree)
        if groups is None:
            return None
        single_col = self.config.columns[0] \
            if len(self.config.columns) == 1 else None

        def fix(key):
            c, t = key
            if c is None:
                c = single_col
            return None if c is None else (c, t)

        if len(groups) == 1 and groups[0][1]:  # one AND group
            keys = [fix(k) for k in groups[0][0]]
            if any(k is None for k in keys):
                return None
            if len({c for c, _ in keys}) != 1:
                return None  # multi-column AND: exact path
            if len(set(keys)) != len(keys):
                # duplicated atom (e.g. a repeated-word phrase degraded
                # to AND on the positions-free layout) would score once
                # here but per-occurrence on the exact path — fall back
                # (round-5 fuzz: '"window window"' WAND halved scores)
                return None
            return keys, True
        if all(not is_and for _, is_and in groups):
            raw = [k for g, _ in groups for k in g]
            keys = [fix(k) for k in raw]
            if any(k is None for k in keys):
                return None
            if len(set(keys)) != len(raw):
                return None  # duplicated atom would double-count exact
            return keys, False
        return None

    def _tombstones_by_shard(self) -> DataFrame:
        """(shard, doc_id) for every distinct tombstone.  Doc-range
        part bounds come from meta.part_ranges (tiny, broadcast); shard
        = part_id // parts_per_shard, the same mapping the build uses.
        Each tombstone shuffles to exactly one shard group — no driver
        materialization and no full-set broadcast, so WAND stays active
        under delete sets of any size."""
        tomb = self._tombstone_df().select("doc_id").distinct()
        pps = self.config.parts_per_shard
        dense = getattr(self.meta, "dense_ranges", None)
        if dense and not self.meta.part_ranges:
            # dense ids (position builds): doc -> shard is arithmetic,
            # no ranges broadcast at all — O(1) regardless of part count
            n, rpp = int(dense[0]), int(dense[1])
            return (
                tomb.where(F.col("doc_id") < F.lit(n))
                .select(
                    (F.floor(F.col("doc_id") / F.lit(rpp)) / F.lit(pps))
                    .cast("int").alias("shard"),
                    "doc_id")
            )
        ranges = self._require_spark().createDataFrame(
            [(int(p), int(lo), int(hi))
             for p, lo, hi, _ in self.meta.part_ranges],
            "part_id int, min_doc long, max_doc long")
        return (
            tomb.join(
                F.broadcast(ranges),
                (F.col("doc_id") >= F.col("min_doc"))
                & (F.col("doc_id") <= F.col("max_doc")))
            .select(
                (F.col("part_id") / F.lit(pps)).cast("int").alias("shard"),
                "doc_id")
        )

    def _bm25_wand(
        self,
        atoms: list[tuple[str, str]],
        top_k: int,
        and_mode: bool,
        alive_bitmap: bytes | None,
        statistics: Statistics | None,
    ) -> DataFrame:
        """WAND path: groupBy(shard).applyInPandas block-max scorer +
        global TakeOrdered — the Spark analog of per-segment
        for_each_pruning + merge_fruits.  ``atoms`` are (col, term)
        scoring atoms (multi-column OR sums per-column block-max
        bounds); large delete sets ride a per-shard cogroup instead of
        a broadcast."""
        from tantivy_search_spark.search import wand as wand_mod

        if not atoms:
            return self._empty_scores_df()
        env = self._scoring_env(atoms, statistics)
        scorer = wand_mod.make_wand_scorer(
            atoms=atoms, idf_map={a: env.idf(*a) for a in atoms},
            avgdl_map=env.avgdl,
            k1=self.config.k1, b=self.config.b,
            block_size=self.config.block_size, top_k=top_k,
            and_mode=and_mode, alive_bitmap=alive_bitmap,
        )
        terms = sorted({t for _, t in atoms})
        buckets = sorted({term_bucket(t, self.config.n_buckets)
                          for t in terms})
        cand = self._postings.where(F.expr(
            f"bucket IN ({_sql_int_list(buckets)}) "
            f"AND term IN ({_sql_str_list(terms)}) "
            f"AND col IN ({_sql_str_list(sorted({c for c, _ in atoms}))})"
        )).select("shard", "col", "term", "df", "block_first", "block_last",
                  "block_max_tf", "block_min_norm", "deltas", "tfs", "norms")

        tomb = self._tombstone_small_array()
        if tomb is None and self.meta.part_ranges is None \
                and not getattr(self.meta, "dense_ranges", None):
            # pre-part_ranges meta (older index layout): the cogrouped
            # tier can't map tombstones to shards without doc-range
            # bounds — ship the full array instead of raising (ADVICE
            # r3; costlier than the cogroup but correct, and only
            # reachable on legacy metas with over-cap delete sets)
            tomb = self._tombstone_array()
        if tomb is not None:
            scored = cand.groupBy("shard").applyInPandas(
                wand_mod.with_broadcast_tombstones(scorer, tomb),
                "doc_id long, score double")
        else:
            scored = cand.groupBy("shard").cogroup(
                self._tombstones_by_shard().groupBy("shard")
            ).applyInPandas(
                wand_mod.with_cogrouped_tombstones(scorer),
                "doc_id long, score double")
        return (
            scored.select(F.col("doc_id").alias("row_id"), "score")
            .orderBy(F.desc("score"), F.asc("row_id"))
            .limit(top_k)
        )

    # ------------------------------------------------------- local hot path
    def enable_local_cache(self, max_terms: int = 4096) -> None:
        """Cap each in-process LRU (decoded postings, per-term score
        vectors, phrase positions, bitmap doc ids) at ``max_terms``
        entries.  Every reader has them (4096 by default); this resizes
        them and starts the reader's caches empty."""
        self._local_cache_max = max_terms
        self._caches = _ReaderCaches(self)

    #: parquet handles an in-process reader keeps open (a fresh build
    #: has one postings file per bucket, so 64 by default)
    FETCH_OPEN_FILES = 256

    def _postings_file(self, path: str, metadata=None):
        """Open parquet handle of one postings file, kept per reader
        generation (``metadata`` skips the footer read on a reopen)."""
        import pyarrow.parquet as pq
        files = self._caches.files
        pf = files.get(path)
        if pf is None:
            pf = files.put(path, pq.ParquetFile(path, metadata=metadata))
        return pf

    def _bucket_directory(self, bucket: int) -> list:
        """[(path, footer, bounds)] for the postings files that can
        hold a term of ``bucket``: bounds[i] = (col min, col max, term
        min, term max) of row group i from the footer statistics, or
        None where the footer has none (that row group is always read).
        Built at the bucket's first fetch in this generation; no index
        file beyond the postings themselves is read."""
        c = self._caches
        files = c.directory.get(bucket)
        if files is not None:
            return files
        files = []
        for path in data_files(os.path.join(
                self.index_path, POSTINGS_DIR, f"bucket={bucket}")):
            md = self._postings_file(path).metadata
            ci, ti = (md.schema.names.index(n) for n in ("col", "term"))
            bounds = []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                sc, st = rg.column(ci).statistics, rg.column(ti).statistics
                bounds.append(
                    (sc.min, sc.max, st.min, st.max)
                    if sc is not None and st is not None
                    and sc.has_min_max and st.has_min_max else None)
            files.append((path, md, bounds))
        c.directory[bucket] = files
        return files

    def _fetch_rows_arrow(self, atoms: list[tuple[str, str]],
                          columns: list[str]) -> pd.DataFrame:
        """The posting rows of exactly the (col, term) ``atoms``, read
        through the row-group directory: each atom's bucket files are
        opened once per generation and only the row groups whose
        footer bounds admit the atom are read.  A term-sorted bucket
        file (``builder.write_postings``) answers from one row group;
        an unsorted one (indexes written before that writer sorted)
        from every row group whose bounds span the term — same rows
        either way."""
        import pyarrow as pa
        import pyarrow.compute as pc
        atoms = list(dict.fromkeys(atoms))
        by_bucket: dict = {}
        by_col: dict = {}
        for col, t in atoms:
            by_bucket.setdefault(
                term_bucket(t, self.config.n_buckets), []).append((col, t))
            by_col.setdefault(col, []).append(t)
        read = list(dict.fromkeys(["col", "term", *columns]))
        parts = []
        for bucket, keys in by_bucket.items():
            for path, md, bounds in self._bucket_directory(bucket):
                groups = [g for g, bd in enumerate(bounds)
                          if bd is None or any(
                              bd[0] <= col <= bd[1] and bd[2] <= t <= bd[3]
                              for col, t in keys)]
                if groups:
                    parts.append(self._postings_file(path, md)
                                 .read_row_groups(groups, columns=read,
                                                  use_threads=False))
        if not parts:
            return pd.DataFrame({c: [] for c in columns})
        tbl = parts[0] if len(parts) == 1 else pa.concat_tables(
            parts, promote_options="default")
        mask = None
        for col, terms in by_col.items():
            m = pc.and_(pc.equal(tbl["col"], col),
                        pc.is_in(tbl["term"], value_set=pa.array(terms)))
            mask = m if mask is None else pc.or_(mask, m)
        return tbl.filter(mask).select(columns).to_pandas(split_blocks=True)

    def _local_postings(self, atoms: list[tuple[str, str]]) -> dict:
        """(col, term) -> doc-sorted (doc_ids, tfs, norm_ids): one
        fetch for all cache misses, decoded into the postings LRU."""
        cache = self._caches.postings
        out, missing = {}, []
        for a in atoms:
            hit = cache.get(a)
            if hit is None:
                missing.append(a)
            else:
                out[a] = hit
        if missing:
            pdf = self._fetch_rows_arrow(
                missing, ["col", "term", "block_first", "deltas", "tfs",
                          "norms"])
            got: dict = {a: [] for a in missing}
            bs = self.config.block_size
            for r in pdf.itertuples(index=False):
                key = (r.col, r.term)
                if key in got:
                    got[key].append(layout.decode_blocks(
                        r.block_first, r.deltas, r.tfs, r.norms, bs))
            keep = set(atoms)
            for a, runs in got.items():
                if runs:
                    d, t, m = (np.concatenate([x[i] for x in runs])
                               for i in range(3))
                    order = np.argsort(d, kind="stable")
                    val = (d[order], t[order], m[order])
                else:
                    val = (np.empty(0, np.int64), np.empty(0, np.int64),
                           np.empty(0, np.uint8))
                out[a] = cache.put(a, val, keep)
        return out

    def warm_terms(self, col: str, queries: list[str],
                   bitmaps: bool = False, batch_size: int = 512) -> int:
        """Bulk-warm the embedded reader for a known query workload.

        First touch of a term reads its row group(s) through the
        postings directory; ``_local_postings`` / ``_local_doc_ids``
        fetch all cache misses of one call together, so a batch of
        terms sharing a row group reads it once, and the queries that
        follow start with their postings decoded.

        ``queries`` are raw query strings (or bare terms); they pass
        through the column's analyzer, and their terms' decoded
        postings fill the LRU both local evaluators score from.
        ``bitmaps=True`` additionally fills the ids-only LRU the bitmap
        family reads (from those decoded postings, without a second
        scan).  Returns the number of distinct tokens warmed."""
        an = self.config.analyzer(col)
        toks = sorted({t for q in queries for t in an(q)})
        for i in range(0, len(toks), batch_size):
            chunk = [(col, t) for t in toks[i:i + batch_size]]
            self._local_postings(chunk)
            if bitmaps:
                self._local_doc_ids(chunk)
        return len(toks)

    def _local_phrase_scores(
        self,
        col: str,
        terms: list[str],
        env: _ScoringEnv,
        slop: int = 0,
        offsets: tuple | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """In-process phrase evaluation: posting rows (with positions)
        fetched via the direct pyarrow path, decoded once into the
        positions LRU, then the shared adjacency evaluator — no Spark
        job warm."""
        if not self.config.with_positions:
            raise ValueError(
                "phrase query requires an index built with "
                "IndexConfig.with_positions=True")
        cache = self._caches.positions
        keys = list(dict.fromkeys((col, t) for t in terms))
        per_term, missing = {}, []
        for k in keys:
            hit = cache.get(k)
            if hit is None:
                missing.append(k)
            else:
                per_term[k[1]] = hit
        if missing:
            pdf = self._fetch_rows_arrow(
                missing, ["col", "term", "block_first", "deltas", "tfs",
                          "norms", "positions"])
            bs = self.config.block_size
            for k in missing:
                sub = pdf[(pdf["col"] == col) & (pdf["term"] == k[1])]
                runs = []
                for r in sub.itertuples(index=False):
                    d, tf, nm = layout.decode_blocks(
                        r.block_first, r.deltas, r.tfs, r.norms, bs)
                    flat, _ = layout.decode_positions(
                        r.positions, np.frombuffer(r.tfs, np.uint32))
                    runs.append((d, tf, nm, flat))
                per_term[k[1]] = cache.put(
                    k, _assemble_phrase_runs(runs) if runs
                    else (np.empty(0, np.int64), np.empty(0, np.int64),
                          np.empty(0, np.uint8), np.empty(0, np.uint32),
                          np.zeros(1, np.int64)), set(keys))
        return _eval_phrase(list(terms), per_term,
                            {t: env.idf(col, t) for t in terms},
                            env.avgdl[col], self.config.k1, self.config.b,
                            slop, offsets)

    #: dense-lookup eligibility: a term qualifies when its (post-
    #: tombstone) posting count covers at least this fraction of the
    #: corpus — below it the sparse searchsorted gather is already
    #: cheap and the dense array would waste memory
    LOCAL_DENSE_MIN_FRAC = 0.25
    #: byte cap on the dense-lookup LRU (uint32 per corpus doc per
    #: cached term; only terms the workload actually queries fill it)
    LOCAL_DENSE_MAX_BYTES = 2 << 30
    #: posting-count floor below which the sparse gather is trivially
    #: cheap and a dense array is pointless
    LOCAL_DENSE_MIN_DOCS = 32

    def _dense_pos_for(self, key: tuple, d: np.ndarray) -> np.ndarray | None:
        """doc_id -> (sparse index + 1) dense uint32 lookup for a
        high-df ('hot') term, or None when the term doesn't qualify.

        Hot+tail queries spend their time gathering a few thousand tail
        candidates out of the hot term's multi-100k sorted doc array:
        np.searchsorted is O(|tail| log |hot|) with cache-hostile
        probes and measured ~0.2 ms/query at 480k docs (round-5
        profile).  A doc-indexed position array turns that into ONE
        vectorized fancy-index (0 = absent, else sparse position + 1),
        exact to the bit because scores are still read from the sparse
        float64 vector.  Built once per (col, term) at first use into
        the byte-capped dense LRU (a lookup larger than the whole cap
        serves its query uncached), and keyed on the identity of the
        cached doc vector so a refilled score-cache entry rebuilds it.
        """
        total = self.meta.total_docs or 0
        if d.size < self.LOCAL_DENSE_MIN_DOCS \
                or d.size < total * self.LOCAL_DENSE_MIN_FRAC:
            return None
        cache = self._caches.dense
        ent = cache.get(key)
        if ent is not None and ent[1] is d:
            return ent[0]
        pos = np.zeros(int(d[-1]) + 1, dtype=np.uint32)
        pos[d] = np.arange(1, d.size + 1, dtype=np.uint32)
        cache.put(key, (pos, d), nbytes=pos.nbytes)
        return pos

    @staticmethod
    def _gather(d: np.ndarray, s: np.ndarray, cand: np.ndarray,
                dense: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
        """(hit_mask, contributions) of one atom at the candidate doc
        ids — via its dense lookup when it has one, else searchsorted
        into the sorted doc array; exact float64 scores either way."""
        if dense is not None:
            p = np.zeros(cand.size, dtype=np.int64)
            m = cand < dense.size
            p[m] = dense[cand[m]]
            hit, idx = p > 0, p - 1
        elif d.size:
            idx = np.minimum(np.searchsorted(d, cand), d.size - 1)
            hit = d[idx] == cand
        else:
            return np.zeros(cand.size, dtype=bool), np.zeros(cand.size)
        contrib = np.zeros(cand.size)
        contrib[hit] = s[idx[hit]]
        return hit, contrib

    def _local_atom_vectors(self, atoms: list, statistics: Statistics | None,
                            alive_bitmap: bytes | None) -> tuple[dict, set]:
        """atom -> (doc_ids, scores, max score) for one query's atoms —
        the input of both local evaluators, with tombstones removed and
        ``alive_bitmap`` applied (the max stays the unfiltered one, an
        upper bound still).  Term vectors scored with the index's own
        statistics live in the score LRU; a bare (None, term) atom sums
        its per-column vectors; phrases come from the phrase evaluator.
        Also returns the atoms whose vectors are the score LRU's own
        arrays, which the dense lookup may key on."""
        cols = self.config.columns
        terms = list(dict.fromkeys(
            (c, a[1]) for a in atoms if not qt.is_phrase_key(a)
            for c in ([a[0]] if a[0] is not None else cols)))
        env = self._scoring_env(
            terms + [(a[1], t) for a in atoms if qt.is_phrase_key(a)
                     for t in a[2]], statistics)
        scache = self._caches.scores
        tvec, need = {}, []
        for k in terms:
            hit = None if env.injected else scache.get(k)
            if hit is None:
                need.append(k)
            else:
                tvec[k] = hit
        tomb = self._tombstone_array()
        k1, b = self.config.k1, self.config.b
        keep = set(terms)
        for k, (d, tf, nm) in self._local_postings(need).items():
            if tomb.size and d.size:
                live = ~np.isin(d, tomb)
                d, tf, nm = d[live], tf[live], nm[live]
            s = np.empty(0, np.float64)
            if d.size:
                norm_d = bm25.doc_norm(FIELD_NORMS_TABLE[nm],
                                       env.avgdl[k[0]], k1, b)
                s = bm25.term_score(tf, env.idf(*k), norm_d, k1)
            tvec[k] = (d, s, float(s.max()) if s.size else 0.0)
            if not env.injected:
                scache.put(k, tvec[k], keep)

        vecs, stable = {}, set()
        for a in atoms:
            if qt.is_phrase_key(a):
                d, s = self._local_phrase_scores(a[1], list(a[2]), env,
                                                 a[3], a[4])
                if tomb.size and d.size:
                    live = ~np.isin(d, tomb)
                    d, s = d[live], s[live]
                v = (d, s, float(s.max()) if s.size else 0.0)
            elif a[0] is not None:
                v = tvec[a]
                stable.add(a)
            else:
                parts = [tvec[(c, a[1])] for c in cols
                         if tvec[(c, a[1])][0].size]
                if len(parts) == 1:
                    v = parts[0]
                elif not parts:
                    v = (np.empty(0, np.int64), np.empty(0, np.float64),
                         0.0)
                else:
                    d, inv = np.unique(np.concatenate(
                        [p[0] for p in parts]), return_inverse=True)
                    s = np.bincount(inv, minlength=d.size,
                                    weights=np.concatenate(
                                        [p[1] for p in parts]))
                    v = (d, s, float(s.max()))
            if alive_bitmap is not None and v[0].size:
                live = mask_for_row_ids(v[0], alive_bitmap)
                v = (v[0][live], v[1][live], v[2])
            vecs[a] = v
        return vecs, (stable if alive_bitmap is None else set())

    def _bm25_local_taat(self, keys: list, is_and: bool, vecs: dict,
                         stable: set, top_k: int) -> list[tuple[int, float]]:
        """Term-at-a-time top-k of one flat group: the AND or OR of
        ``keys``, each occurrence adding its atom's score.

        The in-process equivalent of WAND at term granularity: atoms run
        in ascending-df order; after the anchor atom sets θ (the kth
        best running total), a later OR atom admits NEW candidate docs
        only if its max score plus the remaining atoms' maxima could
        still reach θ — hot keywords (idf ~0.04) fail that test and
        instead contribute to existing candidates via a vectorized
        gather.  Exact: a skipped doc's total stays below θ (see
        wand.py); pruning is off when a negative score (an injected df
        above the doc count) would void that bound."""
        order = sorted(keys, key=lambda a: vecs[a][0].size)
        if not order:
            return []
        prune = not is_and and all(vecs[a][2] >= 0 for a in order)
        suffix = [0.0] * len(order)  # sum of later atoms' maxima
        for i in range(len(order) - 1, 0, -1):
            suffix[i - 1] = suffix[i] + vecs[order[i]][2]

        def kth(v):
            if prune and 0 < top_k <= v.size:
                return float(np.partition(v, v.size - top_k)[v.size - top_k])
            return -np.inf

        cand, total, _ = vecs[order[0]]
        if is_and and not cand.size:
            return []  # AND with an empty atom matches nothing
        total = total.copy()
        theta = kth(total)
        for i, a in enumerate(order[1:], 1):
            d, s, mx = vecs[a]
            dense = self._dense_pos_for(a, d) if a in stable else None
            if is_and or mx + suffix[i] < theta:
                # gather onto existing candidates only; an OR atom's
                # skipped docs are bounded below theta
                hit, contrib = self._gather(d, s, cand, dense)
                if is_and:
                    cand, total = cand[hit], total[hit] + contrib[hit]
                    if not cand.size:
                        return []
                    continue
                total += contrib
            else:
                # new entrants possible: full sorted merge
                cand, inv = np.unique(np.concatenate([cand, d]),
                                      return_inverse=True)
                total = np.bincount(inv, weights=np.concatenate([total, s]),
                                    minlength=cand.size)
            theta = max(theta, kth(total))
        return _top_k(cand, total, top_k)

    #: auto-tier threshold: serve from the in-process tier while the
    #: postings fit a driver comfortably; beyond it the corpus is the
    #: cluster's problem and queries run as Spark jobs
    AUTO_LOCAL_MAX_BYTES = 256 * 1024 * 1024

    def _postings_bytes(self) -> int:
        """On-disk size of the postings tables (cached per reader
        generation — reload() drops it)."""
        c = self._caches
        if c.postings_bytes is None:
            total = 0
            for root, _dirs, files in os.walk(
                    os.path.join(self.index_path, POSTINGS_DIR)):
                for f in files:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, f))
            c.postings_bytes = total
        return c.postings_bytes

    def bm25_search_auto(
        self,
        sentence: str,
        column_names: list[str] | None = None,
        top_k: int = 10,
        operator_or: bool = False,
        alive_bitmap: bytes | None = None,
        enable_nlq: bool = False,
        statistics: Statistics | None = None,
        use_wand: bool = False,
    ) -> list[tuple[int, float]]:
        """Auto-tier routing: one entry point that picks the execution
        tier instead of making the caller choose.

        Heuristic: while the postings' on-disk bytes fit the driver
        comfortably (<= AUTO_LOCAL_MAX_BYTES, default 256 MB — decoded
        working set a few x that), answer from the in-process pyarrow
        tier (~1000x lower latency warm, reference's embedded
        deployment shape); past the threshold the corpus belongs to
        the cluster and the query runs as a Spark job.  Both tiers are
        rank-identical — the routing decision changes latency class
        only (pinned by tests/test_local_search.py::TestAutoRoute).
        """
        if self.spark is None or \
                self._postings_bytes() <= self.AUTO_LOCAL_MAX_BYTES:
            return self.bm25_search_local(
                sentence, column_names=column_names, top_k=top_k,
                operator_or=operator_or, alive_bitmap=alive_bitmap,
                enable_nlq=enable_nlq, statistics=statistics,
                use_wand=use_wand)
        rows = self.bm25_search(
            sentence, column_names=column_names, top_k=top_k,
            operator_or=operator_or, alive_bitmap=alive_bitmap,
            enable_nlq=enable_nlq, statistics=statistics,
            use_wand=use_wand).collect()
        return [(r["row_id"], r["score"]) for r in rows]

    def bm25_search_local(
        self,
        sentence: str,
        column_names: list[str] | None = None,
        top_k: int = 10,
        operator_or: bool = False,
        alive_bitmap: bytes | None = None,
        enable_nlq: bool = False,
        statistics: Statistics | None = None,
        use_wand: bool = False,
    ) -> list[tuple[int, float]]:
        """In-process hot path: same tokenizers, stats, and scoring math
        as ``bm25_search``, but decode + score run on the driver against
        LRUs of decoded postings and per-term score vectors — no Spark
        job after warm.

        This mirrors the reference's deployment shape (an embedded
        engine answering point queries in-process,
        src/search/implements/api_myscale) and restores its latency
        class for working sets that fit one machine; the distributed
        ``bm25_search`` / ``bm25_search_batch`` paths own the corpus
        sizes where that stops being true.

        Two exact evaluators: a query that is one flat group (an AND,
        or an OR of any number of atoms) runs term-at-a-time
        (``_bm25_local_taat``); every other shape (MustNot, boosts,
        nested or several AND groups) runs the tree evaluator.  Both
        read per-atom score vectors from ``_local_atom_vectors``.
        ``use_wand`` selects the block-max scorer on the distributed
        tier only; here it does not change the answer or the path.

        Returns [(row_id, score)] in (score desc, row_id asc) order.
        """
        cols = [c for c in (column_names or self.config.columns)
                if c in self.config.columns]
        analyzers = self._analyzers()
        if enable_nlq:
            # phrase_nodes matches the distributed parse, so both tiers
            # evaluate the identical tree
            tree = qt.parse_nlq(sentence, cols, analyzers,
                                conjunction_by_default=not operator_or,
                                phrase_nodes=self.config.with_positions,
                                pos_analyzers=self._pos_analyzers())
        else:
            tokens_by_col = {c: analyzers[c](sentence) for c in cols}
            tree = qt.standard_query_tree(tokens_by_col, operator_or)
        atoms = qt.collect_atoms(tree) if tree is not None else []
        if not atoms:
            return []
        vecs, stable = self._local_atom_vectors(atoms, statistics,
                                                alive_bitmap)
        groups = qt.flat_groups(tree)
        if groups and (len(groups) == 1
                       or not any(is_and for _, is_and in groups)):
            # OR groups sum their matched atoms: one OR over all of them
            return self._bm25_local_taat(
                [k for ks, _ in groups for k in ks],
                len(groups) == 1 and groups[0][1], vecs, stable, top_k)
        return self._bm25_local_tree(tree, vecs, top_k)

    def _bm25_local_tree(self, tree, vecs: dict,
                         top_k: int) -> list[tuple[int, float]]:
        """In-process evaluator for arbitrary NLQ trees (MustNot, boost
        factors, nested groups) — the numpy twin of
        querytree.compile_tree_map over dense (candidate doc x atom)
        score/match matrices, so open_local() indexes answer every
        query shape without a Spark tier."""
        all_docs = np.unique(np.concatenate([v[0] for v in vecs.values()]))
        if all_docs.size == 0:
            return []
        nd = all_docs.shape[0]
        apos = {a: i for i, a in enumerate(vecs)}
        S = np.zeros((nd, len(vecs)))
        M = np.zeros((nd, len(vecs)), dtype=bool)
        for a, (d, s, _) in vecs.items():
            if d.size:
                idx = np.searchsorted(all_docs, d)
                S[idx, apos[a]] = s
                M[idx, apos[a]] = True

        def walk(node):
            """(matched bool[nd], score float[nd]) — exactly
            compile_tree_map's column semantics."""
            if isinstance(node, (qt.Term, qt.Phrase)):
                i = apos[qt.atom_key(node)]
                return M[:, i], np.where(M[:, i], S[:, i], 0.0)
            if isinstance(node, qt.Boost):
                m, sc = walk(node.child)
                return m, sc * float(node.factor)
            if isinstance(node, qt.Bool):
                if node.positive is None:
                    pm = np.zeros(nd, dtype=bool)
                    ps = np.zeros(nd)
                else:
                    pm, ps = walk(node.positive)
                excl = np.zeros(nd, dtype=bool)
                for c in node.must_nots:
                    em, _ = walk(c)
                    excl |= em
                matched = pm & ~excl
                return matched, np.where(matched, ps, 0.0)
            kids = [walk(c) for c in node.children if c is not None]
            if not kids:
                return np.zeros(nd, dtype=bool), np.zeros(nd)
            total = kids[0][1].copy()
            for _, s in kids[1:]:
                total += s
            if isinstance(node, qt.And):
                matched = kids[0][0].copy()
                for m, _ in kids[1:]:
                    matched &= m
                return matched, np.where(matched, total, 0.0)
            matched = kids[0][0].copy()
            for m, _ in kids[1:]:
                matched |= m
            return matched, total

        matched, total = walk(tree)
        sel = np.flatnonzero(matched)
        return _top_k(all_docs[sel], total[sel], top_k)

    # ---------------------------------------------------------------- bitmaps
    def _doc_ids_for_terms(self, col: str, tokens: list[str]) -> DataFrame:
        """TermSetQuery semantics: OR of tokens -> distinct doc ids
        (tombstones excluded)."""
        if not tokens:
            return self._require_spark().createDataFrame([], "row_id long")
        uniq = sorted(set(tokens))
        cache_key = ("idsdf", col, tuple(uniq))
        hit = self._caches.plans.get(cache_key)
        if hit is not None:
            return hit
        buckets = sorted({term_bucket(t, self.config.n_buckets) for t in uniq})
        cand = self._postings.where(F.expr(
            f"bucket IN ({_sql_int_list(buckets)}) "
            f"AND term IN ({_sql_str_list(uniq)}) "
            f"AND col = '{col}'"))
        return self._caches.plans.put(cache_key,
                                      self._decode_distinct_ids(cand))

    # -- bitmap result cache (reference CACHE_FOR_SKIP_INDEX,
    # constants.rs:25-30: capacity-1000 cache keyed by reader address +
    # query + use_regex; the reader-address component is the cache
    # object itself here — reload() replaces it, so stale entries die
    # on commit/delete)
    BITMAP_CACHE_CAPACITY = 1000

    def _bitmap_cached(self, key: tuple, compute) -> bytes:
        cache = self._caches.bitmaps
        out = cache.get(key)
        return out if out is not None else cache.put(key, compute())

    def _local_doc_ids(self, atoms: list[tuple[str, str]]) -> dict:
        """(col, term) -> doc_ids only (unsorted), the embedded twin of
        the Spark tier's ``_decode_distinct_ids``: the parquet fetch
        prunes tfs/norms and the decode skips them too, so a cold hot
        -term bitmap touches ~1/3 the bytes of the full-triple path.
        Separate LRU from the decoded-postings one; a triple already
        decoded for BM25 is reused instead of re-fetching."""
        cache, full = self._caches.ids, self._caches.postings
        out, missing = {}, []
        for a in atoms:
            hit = cache.get(a)
            if hit is None:
                hit = full.get(a)
                hit = None if hit is None else hit[0]
            if hit is None:
                missing.append(a)
            else:
                out[a] = hit
        if missing:
            pdf = self._fetch_rows_arrow(
                missing, ["col", "term", "block_first", "deltas"])
            got: dict = {a: [] for a in missing}
            bs = self.config.block_size
            for r in pdf.itertuples(index=False):
                key = (r.col, r.term)
                if key in got:
                    got[key].append(layout.decode_doc_ids(
                        r.block_first, r.deltas, bs))
            keep = set(atoms)
            for a, runs in got.items():
                ids = (np.concatenate(runs) if runs
                       else np.empty(0, np.int64))
                if ids.size and int(ids.max()) < 2**31:
                    # int32 halves the bytes the bitmap scatter reads;
                    # doc ids exceed 2**31 only past ~2e9 docs/index
                    ids = ids.astype(np.int32)
                out[a] = cache.put(a, ids, keep)
        return out

    #: decoded sidecar bitmaps kept in memory (bytes, not entries — one
    #: hot-term bitmap is ~total_docs/8 B, so an entry cap would be
    #: corpus-size-blind)
    SIDECAR_CACHE_BYTES = 256 * 1024 * 1024

    def _sidecar_open(self) -> dict:
        """Lazy-open the hot-term bitmap sidecar written by
        ``IndexBuilder.build_bitmap_sidecar``, validating its fence
        against the live meta: a sidecar built before the last
        append/compact is ignored wholesale (those save a new meta with
        a new committed_fence / total_docs).  Deletes don't retire it —
        tombstones are masked at serve time."""
        c = self._caches
        if c.sidecar is not None:
            return c.sidecar
        sc = {"terms": frozenset(), "dset": None, "cache": None}
        path = os.path.join(self.index_path, BITMAPS_DIR)
        try:
            with open(os.path.join(path, "_sidecar.json")) as f:
                sm = json.load(f)
            if (sm.get("n_terms")
                    and sm.get("fence") == self.meta.committed_fence
                    and sm.get("total_docs") == self.meta.total_docs
                    and sm.get("num_parts") == self.meta.num_parts):
                import pyarrow.dataset as ds
                dset = ds.dataset(path, format="parquet")
                tbl = dset.to_table(columns=["col", "term"],
                                    filter=ds.field("chunk") == 0)
                sc = {"terms": frozenset(
                          zip(tbl.column("col").to_pylist(),
                              tbl.column("term").to_pylist())),
                      "dset": dset,
                      "cache": _LRU(max_bytes=self.SIDECAR_CACHE_BYTES)}
        except (OSError, ValueError, KeyError):
            pass
        c.sidecar = sc
        return sc

    def _sidecar_bitmaps(self, atoms: list[tuple[str, str]]) -> dict:
        """Subset of ``atoms`` served from the sidecar: atom -> packed
        little-endian u8 array (alive-unmasked; caller handles
        tombstones).  Byte-budgeted LRU over assembled bitmaps."""
        sc = self._sidecar_open()
        if not sc["terms"]:
            return {}
        want = [a for a in atoms if a in sc["terms"]]
        if not want:
            return {}
        out, missing = {}, []
        cache = sc["cache"]
        for a in want:
            hit = cache.get(a)
            if hit is None:
                missing.append(a)
            else:
                out[a] = hit
        if missing:
            import pyarrow.dataset as ds
            expr = (ds.field("col").isin(sorted({c for c, _ in missing}))
                    & ds.field("term").isin(sorted({t for _, t in missing})))
            pdf = sc["dset"].to_table(filter=expr).to_pandas()
            keep = set(want)
            for a, grp in pdf.groupby(["col", "term"], sort=False):
                if a in out or a not in keep:
                    continue
                grp = grp.sort_values("chunk")
                arr = np.frombuffer(b"".join(grp["data"]), dtype=np.uint8)
                if arr.nbytes != int(grp["total"].iloc[0]):
                    continue  # torn sidecar row group: fall back to decode
                out[a] = cache.put(a, arr, keep, nbytes=arr.nbytes)
        return out

    def _local_ids_for_terms(self, col: str, tokens: list[str]) -> bytes:
        """In-process TermSetQuery: OR of tokens -> u8 bitmap, via the
        hot-term bitmap sidecar (precomputed packed bitmaps, zero
        decode) plus the ids-only decoded LRU for tail terms (no Spark
        job; same semantics as ``_doc_ids_for_terms`` incl. tombstone
        exclusion)."""
        if not tokens:
            return row_ids_to_u8_bitmap([])
        atoms = sorted({(col, t) for t in set(tokens)})
        side = self._sidecar_bitmaps(atoms)
        if side:
            postings = self._local_doc_ids(
                [a for a in atoms if a not in side])
            parts = [d for d in postings.values() if d.size]
            packs = [p for p in side.values() if p.size]
            nbytes = max(
                max((len(p) for p in packs), default=0),
                max((int(p.max()) for p in parts), default=-1) // 8 + 1)
            if not nbytes:
                return row_ids_to_u8_bitmap([])
            packed = np.zeros(nbytes, dtype=np.uint8)
            for p in packs:
                np.bitwise_or(packed[:len(p)], p, out=packed[:len(p)])
            one = np.uint8(1)
            if parts:
                if sum(p.size for p in parts) < nbytes // 8:
                    for p in parts:  # sparse tail terms: packed scatter
                        np.bitwise_or.at(
                            packed, p >> 3,
                            one << (p & 7).astype(np.uint8))
                else:
                    bits = np.zeros(nbytes * 8, dtype=np.uint8)
                    for p in parts:
                        bits[p] = 1
                    np.bitwise_or(packed,
                                  np.packbits(bits, bitorder="little"),
                                  out=packed)
            tomb = self._tombstone_array()
            if tomb.size:
                t = tomb[tomb < nbytes * 8]
                if t.size:
                    np.bitwise_and.at(
                        packed, t >> 3,
                        np.invert(one << (t & 7).astype(np.uint8)))
            return _trim_trailing_zeros(packed)
        postings = self._local_doc_ids(atoms)
        parts = [d for d in postings.values() if d.size]
        if not parts:
            return row_ids_to_u8_bitmap([])
        # OR the terms directly into a byte-per-bit scatter: no
        # concatenate / unique / sort of multi-million-id hot postings
        # (setting a bit twice is idempotent), then packbits.  Sizing
        # must follow the max ALIVE id (reference bitmaps carry no
        # trailing zero bytes), so pack first and trim after clearing
        # tombstones.
        hi = max(int(p.max()) for p in parts)
        nbytes = hi // 8 + 1
        total = sum(p.size for p in parts)
        tomb = self._tombstone_array()
        if total + tomb.size < nbytes // 8:
            # sparse postings (density < 1/64): set bits directly in the
            # packed array — a df-5k term on a 5.6M-doc corpus must not
            # pay a 5.6M-element zeros + packbits per query (that was
            # the entire per-query cost of the cold bitmap benchmark:
            # 4.4ms -> ~0.3ms).  ufunc.at is unbuffered, so duplicate
            # ids within one byte OR correctly.
            packed = np.zeros(nbytes, dtype=np.uint8)
            one = np.uint8(1)
            for p in parts:
                np.bitwise_or.at(packed, p >> 3,
                                 (one << (p & 7).astype(np.uint8)))
            if tomb.size:
                t = tomb[tomb <= hi]
                if t.size:
                    np.bitwise_and.at(
                        packed, t >> 3,
                        np.invert(one << (t & 7).astype(np.uint8)))
        else:
            bits = np.zeros(nbytes * 8, dtype=np.uint8)
            for p in parts:
                bits[p] = 1
            if tomb.size:
                bits[tomb[tomb <= hi]] = 0
            packed = np.packbits(bits, bitorder="little")
        return _trim_trailing_zeros(packed)

    def query_term_bitmap_df(self, col: str, term: str) -> DataFrame:
        return self._doc_ids_for_terms(col, self.config.analyzer(col)(term))

    def query_term_bitmap(self, col: str, term: str) -> bytes:
        toks = self.config.analyzer(col)(term)
        return self._bitmap_cached(
            ("term", col, term, False),
            (lambda: self._local_ids_for_terms(col, toks))
            if self.spark is None else
            (lambda: self._collect_bitmap(
                self.query_term_bitmap_df(col, term))))

    def query_terms_bitmap_df(self, col: str, terms: list[str]) -> DataFrame:
        an = self.config.analyzer(col)
        toks = [t for term in terms for t in an(term)]
        return self._doc_ids_for_terms(col, toks)

    def query_terms_bitmap(self, col: str, terms: list[str]) -> bytes:
        an = self.config.analyzer(col)
        toks = [t for term in terms for t in an(term)]
        return self._bitmap_cached(
            ("terms", col, tuple(terms), False),
            (lambda: self._local_ids_for_terms(col, toks))
            if self.spark is None else
            (lambda: self._collect_bitmap(
                self.query_terms_bitmap_df(col, terms))))

    def query_sentence_bitmap_df(self, col: str, sentence: str) -> DataFrame:
        return self._doc_ids_for_terms(col, self.config.analyzer(col)(sentence))

    def query_sentence_bitmap(self, col: str, sentence: str) -> bytes:
        toks = self.config.analyzer(col)(sentence)
        return self._bitmap_cached(
            ("sentence", col, sentence, False),
            (lambda: self._local_ids_for_terms(col, toks))
            if self.spark is None else
            (lambda: self._collect_bitmap(
                self.query_sentence_bitmap_df(col, sentence))))

    def regex_term_bitmap_df(self, col: str, like_pattern: str) -> DataFrame:
        """Q4: LIKE -> regex over the term dictionary, then posting union.

        The pattern is lowercased iff the column's chain lowercases
        (reference api_regex_term_bitmap.rs:28-40); RegexQuery matches the
        WHOLE term, hence the ^$ anchors."""
        pat = like_to_regex(like_pattern)
        if self.config.lowercases(col):
            pat = pat.lower()
        matching = (
            self._stats.where((F.col("col") == col)
                              & F.col("term").rlike(f"^(?:{pat})$"))
            .select("term")
        )
        cand = self._postings.where(F.col("col") == col).join(
            F.broadcast(matching), "term", "left_semi"
        )
        return self._decode_distinct_ids(cand)

    def _local_regex_bitmap(self, col: str, like_pattern: str) -> bytes:
        """In-process Q4: regex scan over the cached term dictionary,
        then the local posting union.  like_to_regex output is plain
        (escaped literals + .*/.) so Python re and Spark rlike agree."""
        import re
        if self._stats_cache is None:
            self.enable_stats_cache()
        pat = like_to_regex(like_pattern)
        if self.config.lowercases(col):
            pat = pat.lower()
        rx = re.compile(f"^(?:{pat})$")
        toks = [t for (c, t) in self._stats_cache if c == col and rx.match(t)]
        return self._local_ids_for_terms(col, toks)

    def regex_term_bitmap(self, col: str, like_pattern: str) -> bytes:
        return self._bitmap_cached(
            ("regex", col, like_pattern, True),
            (lambda: self._local_regex_bitmap(col, like_pattern))
            if self.spark is None else
            (lambda: self._collect_bitmap(
                self.regex_term_bitmap_df(col, like_pattern))))

    # -- granule-exists checks (skip-index pruning hot path) ------------
    #
    # Reference: ffi_query_term_with_range / ffi_query_terms_with_range /
    # ffi_query_sentence_with_range / ffi_regex_term_with_range
    # (tests/unit_test/FunctionalFFI.cpp:80-109) — "does any row_id in
    # the inclusive [lrange, rrange] granule match the query?".
    # ClickHouse evaluates one query string against thousands of
    # granules, so like the reference (CACHE_FOR_SKIP_INDEX,
    # constants.rs:25-30) the query's full row-id bitmap is computed
    # once through the cached bitmap path (Spark tier: one pruned
    # postings scan; embedded tier: sidecar/LRU-served) and every
    # subsequent granule probe is a pure byte-window test over it.
    # Boundary semantics follow BoundaryIndexSearch.cpp:86-128:
    # inverted ranges and past-the-end granules are False, negative
    # lrange clamps to 0, bounds are inclusive, and tombstoned rows
    # never report a hit (the cached bitmap already excludes them).

    def query_term_with_range(self, col: str, term: str,
                              lrange: int, rrange: int) -> bool:
        if rrange < lrange:
            return False
        return bitmap_range_any(
            self.query_term_bitmap(col, term), lrange, rrange)

    def query_terms_with_range(self, col: str, terms: list[str],
                               lrange: int, rrange: int) -> bool:
        if rrange < lrange:
            return False
        return bitmap_range_any(
            self.query_terms_bitmap(col, terms), lrange, rrange)

    def query_sentence_with_range(self, col: str, sentence: str,
                                  lrange: int, rrange: int) -> bool:
        if rrange < lrange:
            return False
        return bitmap_range_any(
            self.query_sentence_bitmap(col, sentence), lrange, rrange)

    def regex_term_with_range(self, col: str, like_pattern: str,
                              lrange: int, rrange: int) -> bool:
        if rrange < lrange:
            return False
        return bitmap_range_any(
            self.regex_term_bitmap(col, like_pattern), lrange, rrange)

    def _granule_sweep(self, bitmap: bytes, step: int,
                       total_rows: int | None) -> np.ndarray:
        from tantivy_search_spark.bitmap import bitmap_granule_hits
        if total_rows is None:
            total_rows = int(self.meta.total_docs)
        return bitmap_granule_hits(bitmap, step, total_rows)

    def query_term_granules(self, col: str, term: str, step: int,
                            total_rows: int | None = None) -> np.ndarray:
        """Whole-corpus skip-index sweep in one call: bool per granule
        ``[g*step, g*step + step]`` (closed bounds, the reference
        benchmark's granule shape — SkipIndexBenchmark.h:52-59).
        Equivalent to ``query_term_with_range`` over every granule but
        vectorized over the cached bitmap, so a ClickHouse-style caller
        marks all ~total/step granules of a part in one probe instead
        of total/step scalar calls.  The terms / sentence / regex
        variants below mirror the reference benchmark's 5-term, 10-term
        and sentence sweep shapes (SkipIndexBenchmark.h:65-210)."""
        return self._granule_sweep(
            self.query_term_bitmap(col, term), step, total_rows)

    def query_terms_granules(self, col: str, terms: list[str], step: int,
                             total_rows: int | None = None) -> np.ndarray:
        return self._granule_sweep(
            self.query_terms_bitmap(col, terms), step, total_rows)

    def query_sentence_granules(self, col: str, sentence: str, step: int,
                                total_rows: int | None = None) -> np.ndarray:
        return self._granule_sweep(
            self.query_sentence_bitmap(col, sentence), step, total_rows)

    def regex_term_granules(self, col: str, like_pattern: str, step: int,
                            total_rows: int | None = None) -> np.ndarray:
        return self._granule_sweep(
            self.regex_term_bitmap(col, like_pattern), step, total_rows)

    def _decode_distinct_ids(self, cand: DataFrame) -> DataFrame:
        """Posting rows -> distinct alive doc ids; reads ONLY the
        block_first/deltas columns (tfs/norms pruned at the parquet scan)."""
        block_size = self.config.block_size
        self._swap_broadcast_pool()
        tomb = self._tombstone_small_array()
        anti_join_tombs = tomb is None
        b_tomb = self._bcast(
            np.empty(0, dtype=np.int64) if anti_join_tombs else tomb)

        def decode_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                outs = []
                for r in pdf.itertuples(index=False):
                    doc_ids = layout.decode_doc_ids(
                        r.block_first, r.deltas, block_size)
                    tombs = b_tomb.value
                    if tombs.size:
                        doc_ids = doc_ids[~np.isin(doc_ids, tombs)]
                    outs.append(doc_ids)
                if outs:
                    yield pd.DataFrame({"row_id": np.concatenate(outs)})

        out = (
            cand.select("block_first", "deltas")
            .mapInPandas(decode_ids, "row_id long")
            .distinct()
        )
        if anti_join_tombs:
            out = self._anti_tombstones(out, "row_id")
        return out

    def _collect_bitmap(self, df: DataFrame) -> bytes:
        ids = [r["row_id"] for r in df.collect()]
        return row_ids_to_u8_bitmap(ids)
