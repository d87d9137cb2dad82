"""Multi-process search pool over the embedded (Spark-free) reader.

The reference serves concurrent point queries from a shared rayon
search pool inside one process (feature ``use-shared-search-pool``,
src/search/implements/api_common/api_load_index_reader.rs:38-54).  The
Python analog is a pool of worker *processes*, each holding an embedded
``SearchIndex.open_local`` reader: numpy scoring releases little of the
GIL at point-query sizes, so threads would serialize — processes
restore the reference's N-way concurrency.

Two modes, picked automatically:

* **fork** (no live JVM in this process): workers inherit the parent's
  already-warmed decoded-postings/stats caches copy-on-write — zero
  per-worker warmup cost, shared physical memory for the hot term
  cache.  Forking a PySpark driver is unsafe (children would share the
  py4j socket), so this mode is only chosen when no SparkContext is
  active.
* **spawn** (a SparkSession exists here): each worker opens its own
  embedded reader from disk and warms lazily.  The OS page cache still
  shares the underlying parquet bytes.  Standard spawn semantics
  apply: the creating script's module-level code re-runs in each
  worker, so a driver script that builds its SparkSession at top
  level MUST guard it with ``if __name__ == "__main__":`` (otherwise
  every worker tries to start a JVM and the pool deadlocks —
  exactly the standard multiprocessing requirement).

Results are identical to sequential ``bm25_search_local`` calls
(pinned by tests/test_pool.py).
"""

from __future__ import annotations

import multiprocessing as mp
import os
from typing import Any

# worker-global embedded reader (set by the initializer; in fork mode it
# may already be the parent's warmed instance)
_WORKER_INDEX = None
_WORKER_KWARGS: dict[str, Any] = {}


def _init_worker(index_path: str | None, search_kwargs: dict) -> None:
    """Fork mode passes index_path=None (the reader was inherited);
    spawn mode opens a fresh embedded reader per worker."""
    global _WORKER_INDEX, _WORKER_KWARGS
    _WORKER_KWARGS = search_kwargs
    if _WORKER_INDEX is None and index_path is not None:
        from tantivy_search_spark.search.engine import SearchIndex
        _WORKER_INDEX = SearchIndex.open_local(index_path)


def _set_fork_parent_index(ix) -> None:
    """Fork mode: expose the parent's warmed reader as the module global
    so children inherit it (and its caches) copy-on-write."""
    global _WORKER_INDEX
    _WORKER_INDEX = ix


class PoolQueryError:
    """Per-query failure marker: one bad query (unsupported shape,
    malformed NLQ) must not abort the pool.map batch the other queries
    ride in.  Falsy so ``if result:`` skips it like an empty hit list."""

    __slots__ = ("query", "error")

    def __init__(self, query: str, error: str):
        self.query = query
        self.error = error

    def __bool__(self) -> bool:
        return False

    def __repr__(self) -> str:
        return f"PoolQueryError({self.query!r}, {self.error!r})"

    def __eq__(self, other) -> bool:
        return (isinstance(other, PoolQueryError)
                and (self.query, self.error) == (other.query, other.error))


def _worker_search(item):
    """item is a sentence, or (sentence, overrides-dict) for per-query
    options (the FFI surface takes per-call flags; so does the pool).
    Exceptions come back as PoolQueryError values instead of propagating
    (a raise inside pool.map poisons the whole batch)."""
    if isinstance(item, tuple):
        sentence, overrides = item
        kw = {**_WORKER_KWARGS, **overrides}
    else:
        sentence, kw = item, _WORKER_KWARGS
    try:
        return _WORKER_INDEX.bm25_search_local(sentence, **kw)
    except Exception as e:  # noqa: BLE001 — worker boundary
        return PoolQueryError(sentence if isinstance(sentence, str)
                              else str(sentence),
                              f"{type(e).__name__}: {e}")


def _worker_term_bitmap(item):
    """(col, term, bypass_cache) -> u8 bitmap bytes.  bypass_cache
    skips the reference-style result cache (used by benchmarks to
    measure the decode path; serving normally leaves it False)."""
    col, term, bypass = item
    try:
        if bypass:
            _WORKER_INDEX._caches.bitmaps.clear()
        return _WORKER_INDEX.query_term_bitmap(col, term)
    except Exception as e:  # noqa: BLE001 — worker boundary
        return PoolQueryError(f"{col}:{term}", f"{type(e).__name__}: {e}")


# below this, a bitmap-result chunk rides shared memory instead of the
# result pipe: n_docs/8 bytes per bitmap makes pickle-over-pipe the
# batch bottleneck (~4 copies per byte; measured 16 procs ~= 1 proc on
# a 5.6M-doc corpus), while one shm segment per chunk costs ~50us and
# the parent pays a single memcpy per result
_SHM_MIN_CHUNK_BYTES = 1 << 18


def _worker_term_bitmap_chunk(chunk):
    """[(col, term, bypass)] -> (shm_name | None, entries, plain).

    Large chunks: results concatenate into one SharedMemory segment;
    ``entries`` holds (offset, length) per item (PoolQueryError rides
    inline).  The segment is unregistered from this process's
    resource_tracker — the PARENT owns its lifetime (attach, copy,
    unlink).  Small chunks or any shm failure fall back to the plain
    pickled path (shm_name=None, plain=results)."""
    results = [_worker_term_bitmap(item) for item in chunk]
    total = sum(len(r) for r in results if isinstance(r, bytes))
    if total < _SHM_MIN_CHUNK_BYTES:
        return None, None, results
    try:
        from multiprocessing import resource_tracker, shared_memory
        shm = shared_memory.SharedMemory(create=True, size=total)
        try:
            resource_tracker.unregister(shm._name, "shared_memory")
        except Exception:
            pass
        entries, off = [], 0
        buf = shm.buf
        for r in results:
            if isinstance(r, bytes):
                buf[off:off + len(r)] = r
                entries.append((off, len(r)))
                off += len(r)
            else:
                entries.append(r)
        name = shm.name
        shm.close()
        return name, entries, None
    except Exception:  # noqa: BLE001 — /dev/shm full, platform gap
        return None, None, results


def _worker_term_bitmap_drain(chunk):
    """[(col, term, bypass)] -> (n_ok, total_bytes, xor_crc32, errors).

    Executes the queries and CONSUMES the results inside the worker —
    the deployment shape where each pool worker serves its own client
    connections and a bitmap never transits the parent process (the
    reference's shared rayon pool likewise consumes results on the
    searching thread).  Only counters ride the result pipe, so this is
    also the honest way to benchmark the pool's aggregate decode
    throughput without charging it for parent-side result collection."""
    import zlib
    n_ok = 0
    total = 0
    crc = 0
    errors: list = []
    for item in chunk:
        r = _worker_term_bitmap(item)
        if isinstance(r, (bytes, bytearray)):
            n_ok += 1
            total += len(r)
            crc ^= zlib.crc32(r)
        else:
            errors.append(r)
    return n_ok, total, crc, errors


def _worker_granule_sweep(chunk):
    """[(col, term, step, total_rows, bypass)] ->
    (n_ok, n_hits, n_probes, errors).

    The reference skip-index benchmark's unit of work
    (tests/throughput/benchmark.cpp:194-196): one query = probing every
    ``[g, g+step]`` granule of the corpus through the with_range
    exists check.  The query bitmap is computed once through the result
    cache; each probe is a byte-window test, and only counters ride the
    result pipe."""
    n_ok = hits = probes = 0
    errors: list = []
    for col, term, step, total_rows, bypass, vectorized in chunk:
        try:
            if bypass:
                _WORKER_INDEX._caches.bitmaps.clear()
            if vectorized:
                h = _WORKER_INDEX.query_term_granules(
                    col, term, step, total_rows)
                hits += int(h.sum())
                probes += int(h.size)
            else:
                for g in range(0, total_rows, step):
                    hits += _WORKER_INDEX.query_term_with_range(
                        col, term, g, g + step)
                    probes += 1
            n_ok += 1
        except Exception as e:  # noqa: BLE001 — worker boundary
            errors.append(PoolQueryError(f"{col}:{term}",
                                         f"{type(e).__name__}: {e}"))
    return n_ok, hits, probes, errors


class SearchPool:
    """N-way concurrent BM25 point-query service over one index.

    >>> pool = SearchPool("/path/to/index", processes=16,
    ...                   top_k=10, operator_or=False)
    >>> results = pool.search_batch(["spark join", ...])
    >>> pool.close()

    ``search_kwargs`` (top_k / operator_or / enable_nlq / use_wand /
    statistics / column_names) are fixed per pool — they ship to the
    workers once at startup, keeping the per-query payload to the query
    string itself.

    ``parent_index``: an already-``open_local``-ed (and typically
    warmed) :class:`SearchIndex` to fork the workers from, instead of
    opening and warming a fresh reader.  Lets a server resize its pool
    (or run several pools with different fixed kwargs) without re-paying
    the warm phase — the caller keeps ownership: ``close()`` leaves the
    reader open, and ``reload()`` abandons it for a freshly opened
    (re-warmed) owned reader, since the caller's instance cannot be
    assumed to see segments committed after it was opened.  Fork mode
    only; ignored under spawn (workers re-open from disk there anyway).
    """

    def __init__(self, index_path: str, processes: int | None = None,
                 warm_queries: list[str] | None = None,
                 parent_index: Any | None = None,
                 **search_kwargs: Any):
        self.index_path = index_path
        self.processes = processes or (os.cpu_count() or 4)
        self.search_kwargs = search_kwargs
        self._warm_queries = warm_queries
        self._ext_parent = parent_index
        self._start()

    def _start(self) -> None:
        warm_queries = self._warm_queries
        search_kwargs = self.search_kwargs
        self._fork = self._fork_safe()
        if self._fork:
            parent_ix = self._ext_parent
            self._parent_owned = parent_ix is None
            if parent_ix is None:
                from tantivy_search_spark.search.engine import SearchIndex
                parent_ix = SearchIndex.open_local(self.index_path)
                if warm_queries:
                    # bulk-fetch the workload's distinct terms first (one
                    # pruned scan per batch), then run the queries to
                    # fill the score caches — first-touch scans per
                    # query would dominate pool startup otherwise
                    cols = (search_kwargs.get("column_names")
                            or parent_ix.config.columns)
                    for c in cols:
                        parent_ix.warm_terms(c, warm_queries)
                    for q in warm_queries:
                        parent_ix.bm25_search_local(q, **search_kwargs)
            _set_fork_parent_index(parent_ix)
            # the warm queries above exercised pyarrow dataset reads, so
            # Arrow worker threads exist NOW; forking a process with
            # live threads can deadlock children inside allocator /
            # thread-pool locks (known pyarrow hazard, ADVICE r3).  Cap
            # both Arrow pools to the calling thread before forking —
            # point queries decode small arrays, intra-op threads buy
            # nothing here anyway.
            try:
                import pyarrow as pa
                pa.set_cpu_count(1)
                pa.set_io_thread_count(1)
            except Exception:
                pass
            ctx = mp.get_context("fork")
            self._pool = ctx.Pool(
                self.processes, initializer=_init_worker,
                initargs=(None, search_kwargs))
            # the parent's reference stays alive for the pool's lifetime
            self._parent_ix = parent_ix
        else:
            ctx = mp.get_context("spawn")
            self._pool = ctx.Pool(
                self.processes, initializer=_init_worker,
                initargs=(self.index_path, search_kwargs))
            self._parent_ix = None
            self._parent_owned = True
            if warm_queries:
                # run the warm set once so every worker faults in its terms
                for _ in range(self.processes):
                    self.search_batch(warm_queries)

    @staticmethod
    def _fork_safe() -> bool:
        if not hasattr(os, "fork"):
            return False
        try:
            from pyspark import SparkContext
            return SparkContext._active_spark_context is None
        except Exception:
            return True

    def search_batch(self, sentences: list,
                     chunksize: int | None = None
                     ) -> list[list[tuple[int, float]]]:
        """Run every query across the pool; results in input order.

        Each element is a sentence string, or a ``(sentence,
        overrides)`` tuple whose dict overrides the pool-level
        ``search_kwargs`` for that one query (e.g. ``("a b",
        {"operator_or": True, "top_k": 100})``).

        A query that raises in its worker yields a (falsy)
        :class:`PoolQueryError` at its position instead of aborting the
        batch."""
        if not sentences:
            return []
        cs = chunksize or max(1, len(sentences) // (self.processes * 4))
        return self._pool.map(_worker_search, sentences, chunksize=cs)

    def term_bitmap_batch(self, col: str, terms: list[str],
                          bypass_cache: bool = False,
                          chunksize: int | None = None) -> list[bytes]:
        """Single-term u8 bitmaps (Q1 semantics) across the pool — the
        reference's skip-index serving shape (its published ~2k q/s
        bitmap figure is a 16-thread pool).  Results in input order; a
        failing term yields a falsy :class:`PoolQueryError`."""
        if not terms:
            return []
        items = [(col, t, bypass_cache) for t in terms]
        cs = chunksize or max(1, len(items) // (self.processes * 4))
        chunks = [items[i:i + cs] for i in range(0, len(items), cs)]
        out: list = []
        for name, entries, plain in self._pool.map(
                _worker_term_bitmap_chunk, chunks, chunksize=1):
            if name is None:
                out.extend(plain)
                continue
            from multiprocessing import shared_memory
            shm = shared_memory.SharedMemory(name=name)
            try:
                buf = shm.buf
                for e in entries:
                    out.append(bytes(buf[e[0]:e[0] + e[1]])
                               if isinstance(e, tuple) else e)
            finally:
                shm.close()
                shm.unlink()
        return out

    def term_bitmap_drain(self, col: str, terms: list[str],
                          bypass_cache: bool = False,
                          chunksize: int | None = None):
        """Run single-term bitmap queries across the pool with results
        consumed IN the worker (see :func:`_worker_term_bitmap_drain`):
        each worker acts as its own serving endpoint, so no bitmap
        bytes cross the parent pipe.  Returns ``(n_ok, total_bytes,
        xor_crc32, errors)`` aggregated over the workload — use when
        the caller needs throughput / integrity accounting rather than
        the bitmaps themselves (capacity benchmarks, cache warming,
        integrity sweeps)."""
        if not terms:
            return 0, 0, 0, []
        items = [(col, t, bypass_cache) for t in terms]
        cs = chunksize or max(1, len(items) // (self.processes * 4))
        chunks = [items[i:i + cs] for i in range(0, len(items), cs)]
        n_ok = total = crc = 0
        errors: list = []
        for n, tot, c, errs in self._pool.map(
                _worker_term_bitmap_drain, chunks, chunksize=1):
            n_ok += n
            total += tot
            crc ^= c
            errors.extend(errs)
        return n_ok, total, crc, errors

    def granule_sweep_drain(self, col: str, terms: list[str], step: int,
                            total_rows: int, bypass_cache: bool = False,
                            vectorized: bool = False,
                            chunksize: int | None = None):
        """Run full-corpus granule sweeps (one per term) across the
        pool — the reference skip-index benchmark workload: each term
        probes every ``step``-wide granule via ``query_term_with_range``
        (or one vectorized ``query_term_granules`` call) and only
        ``(n_ok, n_hits, n_probes, errors)`` counters return."""
        if not terms:
            return 0, 0, 0, []
        items = [(col, t, step, total_rows, bypass_cache, vectorized)
                 for t in terms]
        cs = chunksize or max(1, len(items) // (self.processes * 4))
        chunks = [items[i:i + cs] for i in range(0, len(items), cs)]
        n_ok = hits = probes = 0
        errors: list = []
        for n, h, p, errs in self._pool.map(
                _worker_granule_sweep, chunks, chunksize=1):
            n_ok += n
            hits += h
            probes += p
            errors.extend(errs)
        return n_ok, hits, probes, errors

    def reload(self) -> None:
        """Reader reload on commit (reference B5/Q14 semantics for the
        pool tier): after an append/delete commit to the index, make
        every worker see the new segments.  Implemented as a clean
        restart — fork mode re-opens and re-warms the parent reader so
        children again share its caches copy-on-write; spawn workers
        re-open from disk.  An externally supplied ``parent_index`` is
        abandoned (left open, caller's to close) in favor of a fresh
        owned reader — the caller's instance may predate the commit."""
        self._shutdown()
        self._ext_parent = None
        self._start()

    def _shutdown(self) -> None:
        self._pool.close()
        self._pool.join()
        if self._parent_ix is not None:
            if self._parent_owned:
                self._parent_ix.close()
            _set_fork_parent_index(None)
            self._parent_ix = None

    def close(self) -> None:
        self._shutdown()

    def __enter__(self) -> "SearchPool":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
