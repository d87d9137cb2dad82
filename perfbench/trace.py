"""Outside-in tracing: spans around the calls into each layer.

The benchmark wraps the program's layer entry points from its own files
(``Tracer.install``) and restores them afterwards (``Tracer.uninstall``);
the program itself is not changed.  A span is (name, start, end, parent,
request id); spans stay in memory and are written when the run ends.  A
layer's self time is its spans' durations minus the time their child
spans cover (one thread, so children nest inside their parent).

Most seams are public functions.  One is a private method of
``SearchIndex`` because the embedded tier has no public boundary there:
``_fetch_rows_arrow`` (the pyarrow postings read).  A seam that no longer
exists is skipped and counted in ``trace.missing_seams``.

The block-max WAND scorer has no seam here: the in-process tier answers
``use_wand`` queries term-at-a-time unless they carry an alive bitmap,
and the distributed tier runs the scorer inside Spark's python workers.
``workloads.py`` takes ``search.wand.score_ms_per_query`` from the python
time in the plans of cluster-batch's ``use_wand`` queries instead.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
from collections import Counter, defaultdict
from time import perf_counter

ENGINE = "tantivy_search_spark.search.engine"

#: (module, attribute path, span name)
SEAMS = [
    ("tantivy_search_spark.config", "IndexConfig.analyzer",
     "tokenizers.analyze"),
    ("tantivy_search_spark.search.querytree", "parse_nlq",
     "search.querytree.parse"),
    ("tantivy_search_spark.search.querytree", "standard_query_tree",
     "search.querytree.parse"),
    (ENGINE, "SearchIndex.local_statistics", "search.engine.stats"),
    ("tantivy_search_spark.bm25", "idf", "bm25.score"),
    ("tantivy_search_spark.bm25", "doc_norm", "bm25.score"),
    ("tantivy_search_spark.bm25", "term_score", "bm25.score"),
    (ENGINE, "SearchIndex.bm25_search_local", "search.engine.local"),
    (ENGINE, "SearchIndex._fetch_rows_arrow", "search.engine.fetch"),
    ("tantivy_search_spark.index.layout", "decode_blocks",
     "index.layout.decode"),
    (ENGINE, "SearchIndex.delete_row_ids", "search.engine.delete"),
    (ENGINE, "SearchIndex.reload", "search.engine.reload"),
]

LOCAL = "search.engine.local"


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._stack: list[tuple[int, str]] = []
        self.request = 0
        self.counts: Counter = Counter()
        self.missing = 0
        self._saved: list = []

    # ---------------------------------------------------------- recording
    def wrap(self, fn, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(tracer.spans)
            tracer.spans.append(None)
            parent = tracer._stack[-1][0] if tracer._stack else -1
            tracer._stack.append((idx, name))
            t0 = perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = perf_counter()
                tracer._stack.pop()
                tracer.spans[idx] = (name, t0, t1, parent, tracer.request)
            if after is not None:
                after(args, out)
            return out
        return traced

    def in_local(self) -> bool:
        return any(n == LOCAL for _, n in self._stack)

    # ---------------------------------------------------- per-seam counters
    def _after_stats(self, args, out):
        if self.in_local():
            self.counts["lookups"] += sum(len(v) for v in args[1].values())

    def _after_fetch(self, args, out):
        self.counts["fetch_atoms"] += len(set(args[1]))
        self.counts["fetch_rows"] += len(out)

    # --------------------------------------------------------- installing
    def install(self) -> None:
        after = {"search.engine.stats": self._after_stats,
                 "search.engine.fetch": self._after_fetch}
        for mod_name, path, name in SEAMS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__.get(attr)
            if orig is None:
                self.missing += 1
                print(f"trace: seam {mod_name}.{path} not found; skipped",
                      file=sys.stderr)
                continue
            if name == "tokenizers.analyze":
                wrapped = self._wrap_analyzer(orig)
            else:
                wrapped = self.wrap(orig, name, after.get(name))
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, wrapped)

    def _wrap_analyzer(self, orig):
        """IndexConfig.analyzer returns the analyzer: trace building it
        and every call of what it returns."""
        build = self.wrap(orig, "tokenizers.analyze")

        @functools.wraps(orig)
        def analyzer(cfg, column):
            return self.wrap(build(cfg, column), "tokenizers.analyze")
        return analyzer

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ deriving
    def self_ms(self) -> dict[str, float]:
        """Span name -> summed self time in ms."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0 - child[i]) * 1e3
        return out

    def calls(self, name: str) -> list[float]:
        """Inclusive durations (ms) of every span with this name."""
        return [(t1 - t0) * 1e3 for n, t0, t1, _, _ in self.spans
                if n == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, rid in self.spans:
                f.write(json.dumps([name, t0, t1, parent, rid]) + "\n")
