"""The two workloads: set-up, the timed window and their metrics.

One closed-loop client per workload.  Each run builds its own index from
a seeded ``synth_code_corpus`` with the program's ``IndexBuilder`` on a
``local[nproc]`` Spark session, then:

* ``embedded-churn`` fetches the distributed tier's answers for a seeded
  sample, stops Spark, and serves from an ``open_local`` reader in this
  process;
* ``cluster-batch`` fetches the embedded tier's answers for a seeded
  sample, then serves ``bm25_search_batch`` jobs and single
  ``bm25_search`` queries through Spark.

Metric values land in ``Run.metrics`` (end to end) and ``Run.layers``
(per layer, traced runs only); ``run.py`` attaches their units.
"""

from __future__ import annotations

import gc
import itertools
import os
import random
import statistics
import sys
from collections import Counter
from contextlib import contextmanager
from time import perf_counter, process_time

import numpy as np

import queries as Q
import sparkmetrics
from checks import Checker, corrupt
from host import (cpu_s, peak_rss_mb, reset_peak_rss, rss_mb, spark_pids,
                  start_spark, stop_spark)
from trace import Tracer

#: set-ups per run; setup_s is their median
SETUP_REPS = 3
#: deletes timed after cluster-batch's window (it does not delete while
#: serving), so delete_p50_ms exists on every workload
EPILOGUE_DELETES = 8
#: four parts of 1,024 docs, so the build merges per-part segments
ROWS_PER_PART = 1024
#: the untimed build before the timed one, of its own small corpus: a
#: run's first build on a fresh JVM spends most of its time on one-off
#: start-up (JIT, python workers), about 14 s whatever its size, and
#: that start-up's length swings with the host
WARM_BUILD_DOCS = 300
WARM_BUILD_SEED = 1_000_003
#: embedded-churn set-up warms this many of the most popular queries
CHURN_WARM = 64
#: embedded-churn's window is cut into this many runs of consecutive
#: ops; ops_per_s and query_p99_ms are the medians over them, so a burst
#: of interference from other tenants moves one slice, not the figure
SLICES = 6
#: cross-tier sample size
SAMPLE = 32
#: cluster-batch: precomputed batches (cycled) and distinct single queries
N_BATCHES = 8
N_SINGLES = 48
SINGLES_PER_BATCH = 6

#: per-query self time of these spans
SPAN_LAYERS = {
    "tokenizers.analyze_ms_per_query": "tokenizers.analyze",
    "search.querytree.parse_ms_per_query": "search.querytree.parse",
    "search.engine.stats_ms_per_query": "search.engine.stats",
    "bm25.score_ms_per_query": "bm25.score",
    "search.engine.local_self_ms_per_query": "search.engine.local",
    "search.engine.fetch_ms_per_query": "search.engine.fetch",
    "index.layout.decode_ms_per_query": "index.layout.decode",
}


class Run:
    """One run's inputs, failure counts and results."""

    def __init__(self, args, root: str, work: str):
        self.args = args
        self.root = root
        self.work = work
        self.seed = args.seed
        self.n_docs = args.docs
        self.index = os.path.join(work, "index")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n_answers = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.record: dict = {}
        self.tracer: Tracer | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
            print(f"failed op: {what}", file=sys.stderr)

    def answer(self, q: Q.Query, rows, checker: Checker) -> None:
        """Count one answered query and check it."""
        self.attempted += 1
        self.n_answers += 1
        every = self.args.corrupt_every
        if every and self.n_answers % every == 0:
            rows = corrupt(rows, q.top_k)
        err = checker.check(q, rows)
        if err is not None:
            self.fail(f"{q}: {err}")

    @contextmanager
    def phase(self, name: str):
        """Wall time of a run phase, kept in the run record."""
        t0 = perf_counter()
        try:
            yield
        finally:
            self.record.setdefault("phases_s", {})[name] = round(
                perf_counter() - t0, 3)

    def traced_window(self, window, seconds: float):
        """Half the time untraced, half traced; returns both results."""
        base = window(seconds / 2)
        self.tracer = Tracer()
        self.tracer.install()
        try:
            traced = window(seconds / 2)
        finally:
            self.tracer.uninstall()
        self.layers["trace.missing_seams"] = float(self.tracer.missing)
        return base, traced


# ----------------------------------------------------------------- helpers
def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _pct_ms(xs, p: float) -> float:
    return float(np.percentile(xs, p)) * 1e3 if xs else 0.0


def _slices(xs: list, n: int = SLICES) -> list[list]:
    """``xs`` cut into ``n`` runs of consecutive items (fewer when short)."""
    n = max(1, min(n, len(xs)))
    return [xs[len(xs) * i // n:len(xs) * (i + 1) // n] for i in range(n)]


def _median_rate(parts) -> float:
    """Median over (count, seconds) parts of count / seconds."""
    return _median([c / t for c, t in parts if t > 0])


def _blocks_ms(lat: list[float]) -> float:
    """Median time (ms) of BATCH_SIZE consecutive ops."""
    n = Q.BATCH_SIZE
    full = [sum(lat[i:i + n]) for i in range(0, len(lat) - n + 1, n)]
    if full:
        return _median(full) * 1e3
    return sum(lat) * n / len(lat) * 1e3 if lat else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def spark_cpu() -> float:
    """CPU seconds used so far by this process and the Spark JVM with
    every process under it."""
    return cpu_s([os.getpid(), *spark_pids()])


def _timed_deletes(run: Run, ix) -> tuple[list[float], list[float]]:
    """EPILOGUE_DELETES timed deletes after an untimed one: a reader's
    first delete pays one-off start-up costs (about 4x a later one).
    Returns their wall and CPU seconds."""
    wall, cpu = [], []
    for i, ids in enumerate(Q.delete_batches(run.seed, run.n_docs,
                                             EPILOGUE_DELETES + 1)):
        c0 = spark_cpu()
        t0 = perf_counter()
        ix.delete_row_ids(list(ids))
        t1 = perf_counter()
        if i:
            wall.append(t1 - t0)
            cpu.append(spark_cpu() - c0)
    return wall, cpu


def _corpus(spark, n_docs: int, seed: int):
    """The seeded corpus, materialised, so a build is timed on its input
    rather than on the generator (which every build stage would re-run)."""
    from tantivy_search_spark.codecorpus import synth_code_corpus

    src = synth_code_corpus(
        spark, n_docs, seed=seed,
        num_partitions=spark.sparkContext.defaultParallelism,
        ident_frac=Q.IDENT_FRAC, ident_vocab=Q.ident_vocab(n_docs),
        min_tokens=Q.MIN_TOKENS, max_tokens=Q.MAX_TOKENS, with_doc_id=True)
    return src.persist()


def _build(spark, path: str, src):
    from tantivy_search_spark import IndexBuilder, IndexConfig

    cfg = IndexConfig.from_json(["content"], "{}")
    return IndexBuilder(spark, path, cfg, rows_per_part=ROWS_PER_PART,
                        segment_shuffle="stream").build(src, id_col="doc_id")


def build_index(spark, run: Run) -> None:
    """Build the run's index after an untimed warm-up build; record build
    and layout metrics."""
    import shutil

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tantivy_search_spark.index.layout import POSTINGS_DIR

    with run.phase("warm_build"):
        warm = _corpus(spark, WARM_BUILD_DOCS, WARM_BUILD_SEED + run.seed)
        warm_index = os.path.join(run.work, "warm-index")
        _build(spark, warm_index, warm)
        warm.unpersist()
        shutil.rmtree(warm_index)

    src = _corpus(spark, run.n_docs, run.seed)
    content_bytes = src.agg(F.sum(F.octet_length("content"))).first()[0]
    t0, c0 = perf_counter(), spark_cpu()
    meta = _build(spark, run.index, src)
    build_cpu = spark_cpu() - c0
    run.record["build_wall_s"] = round(perf_counter() - t0, 3)
    src.unpersist()

    stages = meta.build_metrics.get("stages", {})
    for st in ("docs", "segments", "merge", "stats"):
        run.layers[f"index.builder.{st}_s"] = float(
            stages.get(st, {}).get("secs", 0.0))
    postings = os.path.join(run.index, POSTINGS_DIR)
    run.layers["index.layout.postings_bytes"] = float(_dir_bytes(postings))
    run.layers["index.layout.posting_rows"] = float(sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in ds.dataset(postings, partitioning="hive").files))

    run.metrics["build_docs_per_s"] = run.n_docs / build_cpu
    run.metrics["index_bytes_per_content_byte"] = (
        _dir_bytes(run.index) / content_bytes)


def _group_rows(rows, n: int) -> list[list[tuple[int, float]]]:
    """Batch output rows -> per-query answers, in the order collected."""
    per: list[list] = [[] for _ in range(n)]
    for r in rows:
        per[r["query_id"]].append((int(r["row_id"]), float(r["score"])))
    return per


def distributed_answers(spark, path: str, keys: list[tuple]) -> dict:
    """Deep answers from bm25_search_batch, one job per NLQ flag."""
    from tantivy_search_spark import SearchIndex

    ix = SearchIndex(spark, path)
    out = {}
    for nlq in (False, True):
        ks = [k for k in keys if k[2] == nlq]
        if not ks:
            continue
        rows = ix.bm25_search_batch([(t, o) for t, o, _ in ks],
                                    top_k=Q.K_DEEP, enable_nlq=nlq).collect()
        for k, got in zip(ks, _group_rows(rows, len(ks))):
            out[k] = sorted(got, key=lambda x: (-x[1], x[0]))
    return out


def local_query(ix, q: Q.Query, bitmap: bytes | None):
    return ix.bm25_search_local(
        q.text, top_k=q.top_k, operator_or=q.op_or, enable_nlq=q.nlq,
        use_wand=q.wand, alive_bitmap=bitmap if q.filtered else None)


def _setup(open_fn, clock):
    """Set up SETUP_REPS times; keep the last reader, report the median
    of ``clock``'s readings."""
    times, ix = [], None
    for _ in range(SETUP_REPS):
        if ix is not None:
            ix.close()
        t0 = clock()
        ix = open_fn()
        times.append(clock() - t0)
    return ix, _median(times)


def _serving_starts(run: Run, pids: list[int]) -> None:
    """Reset the serving processes' peak resident set to what they hold
    now, so peak_rss_mb covers set-up and window only."""
    gc.collect()
    run.record["rss_at_serving_start_mb"] = round(
        sum(rss_mb(p) for p in pids), 1)
    reset_peak_rss(pids)


def _span_layers(run: Run, n_queries: int) -> None:
    """Per-layer metrics every workload derives from its spans."""
    tr = run.tracer
    nq = max(n_queries, 1)
    self_ms = tr.self_ms()
    for metric, span in SPAN_LAYERS.items():
        run.layers[metric] = self_ms.get(span, 0.0) / nq
    c = tr.counts
    run.layers["search.engine.fetch_calls_per_query"] = (
        len(tr.calls("search.engine.fetch")) / nq)
    run.layers["search.engine.fetch_rows_per_query"] = c["fetch_rows"] / nq
    run.layers["index.layout.decode_calls_per_query"] = (
        len(tr.calls("index.layout.decode")) / nq)
    run.layers["search.engine.postings_hit_ratio"] = (
        max(0.0, 1.0 - c["fetch_atoms"] / c["lookups"])
        if c["lookups"] else 0.0)
    deletes = tr.calls("search.engine.delete")
    run.layers["search.engine.delete_write_ms"] = (
        self_ms.get("search.engine.delete", 0.0) / len(deletes)
        if deletes else 0.0)
    run.layers["search.engine.reload_ms"] = _median(
        tr.calls("search.engine.reload"))


# ------------------------------------------------------------ embedded tier
def _embedded_window(run: Run, ix, stream, seconds: float,
                     checker: Checker, bitmap) -> dict:
    """Ops are timed in this process's CPU time (all its threads, so
    pyarrow's readers too).  On a paravirtualised guest that leaves out
    time the hypervisor steals and time spent waiting for a core, which
    wall time would add to a single-client latency at random."""
    lat_all, lat_q, lat_d, after_reload = [], [], [], []
    reloaded = False
    end = perf_counter() + seconds
    while perf_counter() < end:
        op = next(stream)
        if run.tracer is not None:
            run.tracer.request += 1
        t0 = process_time()
        try:
            if isinstance(op, Q.Delete):
                ix.delete_row_ids(list(op.row_ids))
            else:
                rows = local_query(ix, op, bitmap)
        except Exception as e:  # an op's failure is counted, not fatal
            run.attempted += 1
            run.fail(f"{op}: {e!r}")
            continue
        dt = process_time() - t0
        lat_all.append(dt)
        if isinstance(op, Q.Delete):
            run.attempted += 1
            checker.deleted.update(op.row_ids)
            lat_d.append(dt)
            reloaded = True
        else:
            lat_q.append(dt)
            if reloaded:
                after_reload.append(dt)
                reloaded = False
            run.answer(op, rows, checker)
    return {"lat_all": lat_all, "lat_q": lat_q, "lat_d": lat_d,
            "after_reload": after_reload,
            "ops_per_s": _median_rate(
                (len(s), sum(s)) for s in _slices(lat_all))}


def embedded_churn(run: Run) -> None:
    from tantivy_search_spark import SearchIndex
    from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap

    seed, n = run.seed, run.n_docs
    universe = Q.churn_universe(seed, n)
    stream = Q.churn_stream(seed, universe, n)
    warm = universe[:CHURN_WARM]
    sample = universe[:SAMPLE]  # the most popular: checked often
    alive = Q.alive_ids(seed, n)
    bitmap = row_ids_to_u8_bitmap(alive)

    with run.phase("spark_start"):
        spark = start_spark(run.work, run.root)
    try:
        with run.phase("build"):
            build_index(spark, run)
        with run.phase("other_tier"):
            expected = distributed_answers(
                spark, run.index, sorted({q.ranking for q in sample}))
    finally:
        with run.phase("spark_stop"):
            stop_spark(spark)
    checker = Checker(expected, set(alive))

    def open_warm():
        ix = SearchIndex.open_local(run.index)
        for q in warm:
            local_query(ix, q, bitmap)
        return ix

    _serving_starts(run, [os.getpid()])
    with run.phase("setup"):
        ix, run.metrics["setup_s"] = _setup(open_warm, process_time)
    with run.phase("first_delete"):
        # untimed: the process's first delete pays one-off costs (about
        # 1.5x a later one); it drops the caches, so warm them again
        first = Q.first_delete(seed, n)
        ix.delete_row_ids(list(first))
        checker.deleted.update(first)
        for q in warm:
            local_query(ix, q, bitmap)

    def window(seconds):
        return _embedded_window(run, ix, stream, seconds, checker, bitmap)

    with run.phase("window"):
        if run.args.trace:
            base, w = run.traced_window(window, run.args.seconds)
        else:
            w = window(run.args.seconds)
    peak = peak_rss_mb([os.getpid()])
    if run.args.trace:
        _span_layers(run, len(w["lat_q"]))
        run.layers["search.engine.first_query_after_reload_ms"] = (
            _median(w["after_reload"]) * 1e3)
        run.layers["trace.overhead_ratio"] = w["ops_per_s"] / base["ops_per_s"]
    elif not w["lat_d"]:
        raise RuntimeError("the window reached no delete, so there is no "
                           "delete_p50_ms: give it more --seconds")
    run.record["cross_checked"] = checker.cross_checked
    run.record["queries"] = len(w["lat_q"])
    run.record["query_p99_whole_window_ms"] = _pct_ms(w["lat_q"], 99)
    run.record["delete_cpu_ms"] = [round(t * 1e3, 1) for t in w["lat_d"]]
    run.metrics.update({
        "ops_per_s": w["ops_per_s"],
        "query_p50_ms": _pct_ms(w["lat_q"], 50),
        "query_p99_ms": _median([_pct_ms(s, 99) for s in _slices(w["lat_q"])]),
        "batch_p50_ms": _blocks_ms(w["lat_all"]),
        "delete_p50_ms": _median(w["lat_d"]) * 1e3,
        "peak_rss_mb": peak,
    })


# ------------------------------------------------------------- cluster tier
def _spark_op(run: Run, kinds: tuple[str, ...], counters: Counter, fn):
    """Run one Spark action; when traced, read its plan and jobs and add
    them to the counters of every kind in ``kinds``.
    Returns (collected rows, wall seconds, CPU seconds)."""
    kind, sc = kinds[0], None
    if run.tracer is not None:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        run.tracer.request += 1
        group = f"perfbench-{kind}-{run.tracer.request}"
        sc.setJobGroup(group, kind)
    c0 = spark_cpu()
    t0 = perf_counter()
    df = fn()
    t1 = perf_counter()
    rows = df.collect()
    t2 = perf_counter()
    cpu = spark_cpu() - c0
    if sc is not None:
        got = Counter(n=1, plan_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3)
        got.update(sparkmetrics.plan_counters(df))
        got.update(sparkmetrics.job_counters(sc, group))
        for kd in kinds:
            for k, v in got.items():
                counters[f"{kd}_{k}"] += v
    return rows, t2 - t0, cpu


def _cluster_window(run: Run, ix, batches, singles, seconds: float,
                    checker: Checker, counters: Counter,
                    per_round: int = SINGLES_PER_BATCH) -> dict:
    """``batches`` and ``singles`` are iterators shared by the windows of
    a run, so a traced window never repeats (and so re-plans) a query.
    Ops are timed in the CPU time of the whole Spark application (see
    ``spark_cpu``); their wall times are kept for the run record.
    A round is one batch and its singles; ops_per_s is the median of the
    rounds' queries per CPU-second spent in Spark actions.  A window runs
    whole rounds, at least one, so it has singles of both kinds."""
    cpu_b, cpu_q, wall_b, wall_q, rounds = [], [], [], [], []
    end = perf_counter() + seconds
    while not rounds or perf_counter() < end:
        n_queries, busy, round_cpu, round_wall = 0, 0.0, [], []
        batch = next(batches)
        try:
            rows, wall, cpu = _spark_op(
                run, ("batch",), counters, lambda: ix.bm25_search_batch(
                    [(q.text, q.op_or) for q in batch], top_k=10))
        except Exception as e:  # a failed job fails all its queries
            run.attempted += len(batch)
            for q in batch:
                run.fail(f"{q}: {e!r}")
        else:
            cpu_b.append(cpu)
            wall_b.append(wall)
            busy += cpu
            n_queries += len(batch)
            for q, got in zip(batch, _group_rows(rows, len(batch))):
                run.answer(q, got, checker)
        for _ in range(per_round):
            q = next(singles)
            try:
                rows, wall, cpu = _spark_op(
                    run, ("query", "wand") if q.wand else ("query",),
                    counters, lambda: ix.bm25_search(
                        q.text, top_k=q.top_k, operator_or=q.op_or,
                        use_wand=q.wand))
            except Exception as e:
                run.attempted += 1
                run.fail(f"{q}: {e!r}")
                continue
            round_cpu.append(cpu)
            round_wall.append(wall)
            busy += cpu
            n_queries += 1
            run.answer(q, [(int(r["row_id"]), float(r["score"]))
                           for r in rows], checker)
        rounds.append((n_queries, busy))
        cpu_q.append(round_cpu)
        wall_q.append(round_wall)
    return {"cpu_b": cpu_b, "cpu_q": cpu_q, "wall_b": wall_b,
            "wall_q": wall_q, "n_queries": sum(n for n, _ in rounds),
            "ops_per_s": _median_rate(rounds)}


def cluster(run: Run) -> None:
    from tantivy_search_spark import SearchIndex

    seed, n = run.seed, run.n_docs
    n_served = N_BATCHES * Q.BATCH_SIZE + N_SINGLES
    qs = Q.cluster_queries(seed, n, n_served + 1 + Q.BATCH_SIZE + 4)
    batches = [qs[i * Q.BATCH_SIZE:(i + 1) * Q.BATCH_SIZE]
               for i in range(N_BATCHES)]
    # the last single of each round takes the block-max WAND scorer,
    # which answers about 30% faster: one in six, so the singles'
    # median lies among the plain ones rather than between the two kinds
    singles = [q._replace(wand=i % SINGLES_PER_BATCH == SINGLES_PER_BATCH - 1)
               for i, q in enumerate(qs[N_BATCHES * Q.BATCH_SIZE:n_served])]
    warm = qs[n_served]
    warm_batch = qs[n_served + 1:n_served + 1 + Q.BATCH_SIZE]
    # queries rotate through three shapes: one plain single of each, and
    # one with WAND
    warm_singles = [q._replace(wand=i == 3) for i, q in
                    enumerate(qs[n_served + 1 + Q.BATCH_SIZE:])]
    rng = random.Random(f"sample:{seed}")
    sample = [q for b in batches for q in rng.sample(b, SAMPLE // 2)] + singles

    with run.phase("spark_start"):
        spark = start_spark(run.work, run.root)
    try:
        with run.phase("build"):
            build_index(spark, run)
        with run.phase("other_tier"):
            local = SearchIndex.open_local(run.index)
            expected = {q.ranking: local_query(
                local, q._replace(top_k=Q.K_DEEP), None) for q in sample}
            local.close()
        checker = Checker(expected)

        def open_warm():
            ix = SearchIndex(spark, run.index)
            ix.bm25_search(warm.text, top_k=10,
                           operator_or=warm.op_or).collect()
            return ix

        _serving_starts(run, [os.getpid(), *spark_pids()])
        with run.phase("setup"):
            ix, run.metrics["setup_s"] = _setup(open_warm, spark_cpu)
        counters: Counter = Counter()
        with run.phase("warm"):
            # one untimed round: a reader's first batch job and first
            # single query of each shape and kind pay one-off start-up
            # costs (up to 1.5x a later one) that set-up does not
            _cluster_window(run, ix, iter([warm_batch]), iter(warm_singles),
                            0.0, checker, Counter(), len(warm_singles))
        batch_it, single_it = itertools.cycle(batches), itertools.cycle(singles)

        def window(seconds):
            return _cluster_window(run, ix, batch_it, single_it, seconds,
                                   checker, counters)

        with run.phase("window"):
            if run.args.trace:
                base, w = run.traced_window(window, run.args.seconds)
            else:
                w = window(run.args.seconds)
        # python workers that started while serving count too
        peak = peak_rss_mb([os.getpid(), *spark_pids()])
        if run.args.trace:
            _span_layers(run, w["n_queries"])
            _spark_layers(run, counters)
            run.layers["trace.overhead_ratio"] = (
                w["ops_per_s"] / base["ops_per_s"])
        with run.phase("deletes"):
            wall_d, cpu_d = _timed_deletes(run, ix)
        run.record["cross_checked"] = checker.cross_checked
        for what, xs in (("single_cpu_ms", w["cpu_q"]),
                         ("single_wall_ms", w["wall_q"]),
                         ("batch_cpu_ms", [w["cpu_b"]]),
                         ("batch_wall_ms", [w["wall_b"]]),
                         ("delete_cpu_ms", [cpu_d]),
                         ("delete_wall_ms", [wall_d])):
            run.record[what] = [[round(t * 1e3) for t in r] for r in xs]
        run.metrics.update({
            "ops_per_s": w["ops_per_s"],
            "query_p50_ms": _pct_ms(sum(w["cpu_q"], []), 50),
            "query_p99_ms": _median([_pct_ms(r, 99) for r in w["cpu_q"]]),
            "batch_p50_ms": _median(w["cpu_b"]) * 1e3,
            "delete_p50_ms": _median(cpu_d) * 1e3,
            "peak_rss_mb": peak,
        })
    finally:
        with run.phase("spark_stop"):
            stop_spark(spark)


def _spark_layers(run: Run, c: Counter) -> None:
    for kind, suffix, keys in (
            ("batch", "per_batch", ["plan_ms", "exec_ms",
                                    *sparkmetrics.COUNTERS]),
            ("query", "per_query", ["plan_ms", "exec_ms", "jobs", "stages",
                                    "python_ms", "scan_bytes"])):
        nk = max(c[f"{kind}_n"], 1)
        for k in keys:
            run.layers[f"spark.{k}_{suffix}"] = c[f"{kind}_{k}"] / nk
    # the WAND scorer runs inside the python workers of its queries' plans
    run.layers["search.wand.score_ms_per_query"] = (
        c["wand_python_ms"] / max(c["wand_n"], 1))
