"""Python-side spans around the serve tier's calls into other modules.

Tracing is installed from outside: ``install`` rebinds the module and class
attributes the program looks up at call time, and ``uninstall`` puts the
originals back. Nothing in the program changes, and with tracing off no
wrapper is in place.

Spans are kept in memory as (name, start, end, parent, query id). The serve
tier decodes terms in a thread pool; a span opened on a pool thread takes
the client thread's innermost open span as its parent, which is exact here
because the benchmark is a single closed-loop client (one query in flight).
"""

from __future__ import annotations

import functools
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, qid]
        self.counts: Counter = Counter()
        self.qid = None
        self._client = threading.get_ident()
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        on_client = threading.get_ident() == self._client
        parent = self._stack[-1] if self._stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.qid])
        if on_client:
            self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            if on_client:
                self._stack.pop()

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()

    # -- installing the wrappers --------------------------------------------
    def _wrap(self, owner, attr: str, name: str, before=None, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        import pyarrow.parquet as pq

        from osu_elastic_indexer_spark.functions import codec
        from osu_elastic_indexer_spark.operators import serve

        def count_rows(args, _kw, out):
            self.count("codec.postings_decoded", len(out[0]))

        def count_groups(args, kwargs, _out):
            groups = args[1] if len(args) > 1 else kwargs.get("row_groups", ())
            self.count("serve.row_groups_read", len(groups))

        def cache_lookups(args, _kw):
            searcher, infos = args[0], args[1]
            hits = sum(1 for t, _info in infos if t in searcher._decoded)
            self.count("serve.cache_hits", hits)
            self.count("serve.cache_misses", len(infos) - hits)

        def scored(key):
            def after(args, kwargs, out):
                term_lists = args[0]
                cache = kwargs.get("decode_cache")
                if cache is None and len(args) > 5:
                    cache = args[5]
                postings = 0
                for t, _idf, rows in term_lists:
                    hit = cache.get(t) if cache is not None else None
                    if hit is not None:
                        postings += len(hit[0])
                    else:
                        postings += sum(int(e["n_docs"]) for e in rows)
                self.count(key)
                self.count("wand.postings_scored", postings)
                self.count("wand.results", len(out))

            return after

        self._wrap(serve, "tokenize", "textprep.tokenize")
        self._wrap(serve, "taat_topk", "wand.taat_topk", after=scored("wand.taat_calls"))
        self._wrap(serve, "bmw_topk", "wand.bmw_topk", after=scored("wand.bmw_calls"))
        self._wrap(codec, "decode_postings", "codec.decode_postings", after=count_rows)
        self._wrap(pq.ParquetFile, "read_row_groups", "serve.parquet_read", after=count_groups)
        # the dictionary seek is a pyarrow Dataset.to_table on a Cython type,
        # which cannot be rebound; the searcher method around it can
        self._wrap(serve.LocalSearcher, "_resolve_terms", "serve.resolve")
        self._wrap(
            serve.LocalSearcher, "_decoded_for", "serve.decode_cache",
            before=cache_lookups,
        )

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: list, children: list[list]) -> float:
    """Duration minus the union of the child spans' intervals."""
    s, e = span[1], span[2]
    covered = union_length(
        [(max(c[1], s), min(c[2], e)) for c in children if c[2] > s and c[1] < e]
    )
    return (e - s) - covered


# serve-owned spans whose self time is the serve tier's own work
_SERVE_SELF = ("serve.search", "serve.decode_cache")


def serve_layers(spans: list[list], counts: Counter) -> dict[str, float]:
    """Per-search means of each layer's wall time (ms) along the blocking
    chain tokenize -> resolve -> row-group read -> decode -> TAAT, plus the
    counters, for the spans of one phase."""
    children: dict[int, list[list]] = defaultdict(list)
    for sp in spans:
        if sp[3] is not None:
            children[sp[3]].append(sp)
    by_query: dict[object, list[list]] = defaultdict(list)
    for sp in spans:
        by_query[sp[4]].append(sp)
    n = sum(1 for sp in spans if sp[0] == "serve.search")
    totals: Counter = Counter()
    for i, sp in enumerate(spans):
        if sp[0] in _SERVE_SELF:
            totals["self"] += self_time(sp, children.get(i, []))
    for _qid, qspans in by_query.items():
        per_name: dict[str, list] = defaultdict(list)
        for sp in qspans:
            per_name[sp[0]].append((sp[1], sp[2]))
        for name, ivs in per_name.items():
            totals[name] += union_length(ivs)
    lookups = counts["serve.cache_hits"] + counts["serve.cache_misses"]
    ms = 1e3 / n
    return {
        "search_ms": totals["serve.search"] * ms,
        "self_ms": totals["self"] * ms,
        "resolve_ms": totals["serve.resolve"] * ms,
        "parquet_read_ms": totals["serve.parquet_read"] * ms,
        "row_groups_read": counts["serve.row_groups_read"] / n,
        "decode_cache_hit_ratio": (
            counts["serve.cache_hits"] / lookups if lookups else 0.0
        ),
        "decode_ms": totals["codec.decode_postings"] * ms,
        "postings_decoded": counts["codec.postings_decoded"] / n,
        "tokenize_ms": totals["textprep.tokenize"] * ms,
        "taat_ms": totals["wand.taat_topk"] * ms,
        "taat_calls": counts["wand.taat_calls"],
        "bmw_calls": counts["wand.bmw_calls"],
        "postings_per_result": (
            counts["wand.postings_scored"] / counts["wand.results"]
            if counts["wand.results"]
            else 0.0
        ),
    }
