"""Single-node serving tier: millisecond BM25 top-k over a built index.

The reference serves queries from Elasticsearch — a long-lived process with
the index hot. The Spark jobs in operators/wand.py are the BATCH query path
(thousands of queries per job); interactive p50 latency is a serving
concern, so this module reads the SAME segment/dictionary/stats parquet
directly with pyarrow (predicate pushdown -> row-group pruning — the layout
was written term_id-sorted for exactly this) and runs the identical
BMW/TAAT cores. No Spark session involved; results are rank-identical to
the Spark path by construction (same files, same scoring code).

At real scale this is the searcher fleet next to the object store; each
query touches only the row groups covering its terms.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.parquet as pq

from ..config import DEFAULT
from ..functions.textprep import tokenize
from .wand import TAAT_MAX_POSTINGS, bmw_topk, taat_topk

# segment columns per read path: the TAAT/decode-cache path decodes whole
# rows from the two blobs alone (codec.decode_postings); the block metadata
# is read only by the exact BMW core, and the positions only by the
# positional phrase verify
_TAAT_COLS = ["term_id", "doc_min", "n_docs", "docs_blob", "tfs_blob"]
_SEG_COLS = _TAAT_COLS + [
    "doc_offs", "tf_offs", "block_first", "block_last",
    "block_max_tf", "block_min_dl",
]
_POS_COLS = _SEG_COLS + ["pos_blob", "pos_offs"]

# Decoded-postings cache budget per searcher (~16 bytes/posting). Aligned
# with TAAT_MAX_POSTINGS: df-based dispatch routes terms with up to that
# many postings to the TAAT/cache path, so a smaller budget could never
# retain the densest head term — it would be re-read and re-decoded on
# EVERY query, the exact workload the cache exists for.
_DECODE_CACHE_MAX_POSTINGS = TAAT_MAX_POSTINGS

# positions cache budget — BYTES, not posting counts: positions volume ~=
# token volume (an order beyond docs/tfs), and each entry also carries its
# docs + pstart arrays, so counting position values against the postings
# constant under-billed by several x (ADVICE r5). 32 B/posting * the TAAT
# envelope = 2x the postings cache's ~16 B/posting worst case.
_POS_CACHE_MAX_BYTES = 32 * TAAT_MAX_POSTINGS


def _member_mask(farr: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Membership of doc_id-sorted ``ids`` in the sorted filter array
    (searchsorted probe; an EMPTY filter array matches nothing)."""
    if farr.size == 0:
        return np.zeros(ids.size, dtype=bool)
    j = np.searchsorted(farr, ids)
    return (j < farr.size) & (farr[np.minimum(j, farr.size - 1)] == ids)


class LocalSearcher:
    """Loads small index state once; serves top-k queries in milliseconds."""

    def __init__(self, index_dir: str):
        from ..sources.catalog import (
            FORMAT_VERSION,
            committed_gen_paths,
            read_index_manifest,
            resolve_table_dir,
        )

        from ..sources.catalog import assert_index_readable

        self.index_dir = index_dir
        # closed-index parity: a closed ES index rejects searches too
        # (CloseIndexCommand.cs) — a searcher must refuse to open it
        assert_index_readable(index_dir)
        m = read_index_manifest(index_dir)
        if m is not None and m.get("format") != FORMAT_VERSION:
            raise RuntimeError(
                f"index at {index_dir} has on-disk format {m.get('format')}, "
                f"searcher expects {FORMAT_VERSION} — rebuild the index"
            )
        # v2 positional layout flag (build_index(positions=True)) — lets
        # search_phrase answer from the index alone, no source parquet
        self.positions = bool(m and m.get("positions"))
        st = pq.read_table(resolve_table_dir(index_dir, "stats")).to_pylist()[0]
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avgdl"])
        # term -> (term_id, df): lazy footer-indexed seeks on the
        # term-SORTED dict_by_term projection's committed generations (the
        # Lucene term-dictionary-seek analog — a searcher never holds 10^8
        # terms in a python dict). The per-group [min, max] term index is
        # built once here (dictionary.TermSeek), so a resolve reads only the
        # dictionary groups covering its terms; per-gen DELTA rows fold at
        # lookup (term_id = max, df = sum). Resolved terms are memoized.
        from .dictionary import TermSeek, term_seek_paths
        from .state import _parquet_files

        self._dict: dict[str, tuple[int, int]] = {}
        self._term_seek = TermSeek(
            _parquet_files(tuple(term_seek_paths(index_dir)))
        )
        # norms + tombstones via the shared executor-side loaders (sorted
        # int64 arrays; the Lucene live-docs/norms analog a searcher keeps
        # hot) — committed snapshot paths, keyed by the manifest's monotonic
        # commit_seq
        from .state import load_norms, load_tombstones
        from .wand import manifest_commit_seq

        seq = manifest_commit_seq(index_dir)
        self.norms = load_norms(tuple(committed_gen_paths(index_dir, "fwd")), seq)
        self.tombstones = load_tombstones(
            tuple(committed_gen_paths(index_dir, "tombstones")), seq
        )
        # empty-corpus / all-deleted indexes commit with zero segment files
        # -> serve empty results. For non-empty indexes, build the ROW-GROUP
        # SEEK INDEX once: files are term_id-sorted with ~1 MB row groups
        # (build.SEGMENT_ROW_GROUP_BYTES), so one footer pass yields
        # (term_id_min, term_id_max) per group and a term lookup reads ONLY
        # its covering groups — the Lucene term-index seek, not a dataset
        # scan whose stats evaluation re-reads every footer per query.
        seg_files = _parquet_files(tuple(committed_gen_paths(index_dir, "segments")))
        self._seg_pfs: list[pq.ParquetFile] = []
        rg_mins, rg_maxs, rg_file, rg_idx = [], [], [], []
        for fi, f in enumerate(seg_files):
            pf = pq.ParquetFile(f)
            self._seg_pfs.append(pf)
            md = pf.metadata
            tid_col = next(
                i for i in range(md.row_group(0).num_columns)
                if md.row_group(0).column(i).path_in_schema == "term_id"
            ) if md.num_row_groups else 0
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(tid_col).statistics
                has = st is not None and st.has_min_max
                # groups without min/max stats must stay candidates for
                # EVERY term (never silently skipped)
                rg_mins.append(st.min if has else -(2**62))
                rg_maxs.append(st.max if has else 2**62)
                rg_file.append(fi)
                rg_idx.append(g)
        self._rg_min = np.asarray(rg_mins, dtype=np.int64)
        self._rg_max = np.asarray(rg_maxs, dtype=np.int64)
        self._rg_file = np.asarray(rg_file, dtype=np.int64)
        self._rg_idx = np.asarray(rg_idx, dtype=np.int64)
        # bounded decoded-postings cache for the TAAT path (see search())
        self._decoded: dict[str, tuple] = {}
        # bounded decoded-POSITIONS cache for the positional phrase path
        # (term -> (docs, poss, pstart); same LRU discipline, own budget —
        # positions volume ~= token volume, larger than postings)
        self._pos_decoded: dict[str, tuple] = {}

    def _load_term_rows(
        self, term_ids: list[int], cols: list[str] = _SEG_COLS
    ) -> dict[int, list[dict]]:
        if not self._seg_pfs:
            return {}
        # row-group seek: only groups whose [min,max] covers a query term
        tids = np.asarray(sorted(term_ids), dtype=np.int64)
        covers = np.zeros(self._rg_min.size, dtype=bool)
        for t in tids:
            covers |= (self._rg_min <= t) & (t <= self._rg_max)
        hit = np.flatnonzero(covers)
        if hit.size == 0:
            return {}
        parts = []
        for fi in np.unique(self._rg_file[hit]):
            groups = self._rg_idx[hit[self._rg_file[hit] == fi]]
            parts.append(
                self._seg_pfs[int(fi)].read_row_groups(
                    [int(g) for g in groups], columns=cols
                )
            )
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = pa.concat_tables(parts)
        tbl = tbl.filter(pc.is_in(tbl.column("term_id"), value_set=pa.array(tids)))
        # vectorized arrow -> numpy: each list column flattens ONCE to a
        # values array + offsets; per-row arrays are then zero-copy slices.
        # The per-row .as_py() conversion this replaces was the serve-tier
        # hot spot on head terms (thousands of salted segment rows/term).
        n = tbl.num_rows
        tids = tbl.column("term_id").to_numpy()
        doc_mins = tbl.column("doc_min").to_numpy()
        n_docs_col = tbl.column("n_docs").to_numpy()
        blobs = {  # bytes stay python objects
            c: tbl.column(c).to_pylist() for c in cols if c.endswith("_blob")
        }
        flat = {}
        for c in cols:
            if c in _TAAT_COLS or c.endswith("_blob"):
                continue
            arr = tbl.column(c).combine_chunks()
            flat[c] = (
                arr.values.to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                ),
                arr.offsets.to_numpy(),
            )
        rows: dict[int, list[dict]] = {}
        for i in range(n):
            enc = {"doc_min": int(doc_mins[i]), "n_docs": int(n_docs_col[i])}
            for c, vals in blobs.items():
                enc[c] = vals[i]
            for c, (vals, offs) in flat.items():
                enc[c] = vals[offs[i] : offs[i + 1]]
            rows.setdefault(int(tids[i]), []).append(enc)
        for lst in rows.values():
            lst.sort(key=lambda e: e["doc_min"])
        return rows

    def _resolve_terms(self, terms: list[str]) -> None:
        """Memoize term -> (term_id, df) for unseen terms via one
        footer-indexed seek that reads only the dictionary row groups
        covering them (one per term per generation). Misses are memoized
        as absent so a hot OOV term never re-reads."""
        miss = [t for t in terms if t not in self._dict]
        if not miss:
            return
        found = self._term_seek.lookup(miss)
        for t in miss:
            self._dict[t] = found.get(t)

    def search(self, query_text: str, k: int = 10) -> list[tuple[int, float]]:
        """-> [(doc_id, score)] — rank-identical to oracle and Spark paths.

        Head-term latency: the TAAT path keeps a BOUNDED decoded-postings
        cache (term -> (docs, tfs) arrays, _DECODE_CACHE_MAX_POSTINGS) —
        reference query sets share head terms heavily, and the varbyte
        decode of a dense term dominated the old dense-query p50. A cached
        term also skips the segments parquet read entirely. The cache is
        safe by construction: a searcher pins ONE committed snapshot at
        init, so entries can never go stale within its lifetime."""
        terms = sorted(set(tokenize(query_text)))
        self._resolve_terms(terms)
        infos = [
            (t, self._dict[t]) for t in terms if self._dict.get(t) is not None
        ]
        if not infos:
            return []
        # dispatch on the dictionary's df (live-doc estimate of postings
        # volume — a pure perf heuristic, both cores are exact)
        est_total = sum(df for _t, (_tid, df) in infos)
        use_taat = est_total <= TAAT_MAX_POSTINGS
        if use_taat:
            self._decoded_for(infos)  # every term lands in the decode cache
            rows = {}  # taat_topk reads cache entries, not segment rows
        else:
            rows = self._load_term_rows([tid for _t, (tid, _df) in infos])
        entries = []
        for t, (tid, df) in infos:
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            entries.append((t, idf, rows.get(tid, [])))
        if use_taat:
            res = taat_topk(
                entries, k, self.avgdl, self.norms, self.tombstones,
                decode_cache=self._decoded,
            )
            self._bound_decode_cache()
        else:
            res = bmw_topk(
                entries, k, self.avgdl, self.norms, self.tombstones
            )
        return [(doc, score) for score, doc in res]

    def _decoded_for(self, infos: list[tuple[str, tuple[int, int]]]) -> None:
        """Ensure every term in ``infos`` is decoded into the cache.
        LRU: move-to-end on hit, so eviction (which pops from the dict
        head) removes the least-recently-USED term, not the oldest-inserted
        (often the hottest head term)."""
        need = []
        for t, (tid, _df) in infos:
            if t in self._decoded:
                self._decoded[t] = self._decoded.pop(t)
            else:
                need.append((t, tid))
        rows = (
            self._load_term_rows([tid for _t, tid in need], _TAAT_COLS)
            if need
            else {}
        )
        self._decode_terms_parallel(need, rows)

    def search_bool(self, spec: dict, k: int = 10) -> list[tuple[int, float]]:
        """ES bool-query serving: must (scored AND), should (scored OR),
        must_not (excluded), filter (required, UNSCORED — ES filter
        context), filter_range (structured docmap-field restriction) and
        filter_term (declared-keyword-field exact match — the
        country_code/ruleset_id analog) — same dense masks, spec
        validation, and zero-score tail as operators/boolquery.bool_topk,
        same sorted-term score fold as search(), so a surviving doc's
        score is bit-identical to a plain query over the same terms.
        Always the dense/cache path: the eligibility masks need full
        postings regardless of df."""
        from ..sources.catalog import committed_gen_paths
        from .boolquery import (
            _check_spec,
            _get_msm,
            _normalize_spec,
            _pad_zero_score,
            _struct_mask,
            index_keyword_fields,
            index_numeric_fields,
        )
        from .wand import manifest_commit_seq, topk_from_dense

        s = _normalize_spec(spec)
        fr, ft, fe = _check_spec(
            spec, s, index_keyword_fields(self.index_dir),
            index_numeric_fields(self.index_dir),
        )
        msm = _get_msm(spec, s)
        should_set = set(s["should"])
        must, mnot = s["must"], s["must_not"]
        scored = set(must) | set(s["should"])
        required = sorted(set(must) | set(s["filter"]))
        all_terms = sorted(scored | set(mnot) | set(required))
        if not all_terms:
            return []
        self._resolve_terms(all_terms)
        if any(self._dict.get(t) is None for t in required):
            return []  # ES semantics: unmatched required clause -> empty
        infos = [
            (t, self._dict[t])
            for t in all_terms
            if self._dict.get(t) is not None
        ]
        if not infos:
            return []
        self._decoded_for(infos)
        sums = np.zeros(self.norms.size, dtype=np.float64)
        must_cnt = (
            np.zeros(self.norms.size, dtype=np.int16) if required else None
        )
        should_cnt = (
            np.zeros(self.norms.size, dtype=np.int16) if msm else None
        )
        excluded = None
        seen_must = 0
        for t, (tid, df) in infos:  # sorted-term order (all_terms sorted)
            ent = self._decoded.get(t)
            if ent is None:
                continue  # dict row without live postings
            d, tfn = ent
            if t in scored:
                idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
                # ES per-clause boost (boolquery._normalize_spec product
                # rule) — folds into idf exactly like the Spark paths
                sums[d] += idf * s["boosts"].get(t, 1.0) * tfn
            if t in required:
                must_cnt[d] += 1
                seen_must += 1
            if t in should_set and msm:
                should_cnt[d] += 1
            if t in mnot:
                if excluded is None:
                    excluded = np.zeros(self.norms.size, dtype=bool)
                excluded[d] = True
        self._bound_decode_cache()
        struct = None
        if fr or ft or fe:
            # same worker-cached pushed docmap scans as the Spark path
            struct = _struct_mask(
                sums.size,
                fr,
                ft,
                fe,
                tuple(committed_gen_paths(self.index_dir, "docmap")),
                manifest_commit_seq(self.index_dir),
            )
        if required:
            if seen_must < len(required):
                return []
            sums[must_cnt < len(required)] = 0.0
        if msm:
            sums[should_cnt < msm] = 0.0
        if excluded is not None:
            sums[excluded] = 0.0
        if struct is not None:
            sums[~struct] = 0.0
        if self.tombstones is not None and self.tombstones.size:
            tt = self.tombstones[self.tombstones < sums.size]
            sums[tt] = 0.0
        top = topk_from_dense(sums, k)
        # (no zero-score tail under msm — a should match always scores).
        # Filter CONTEXT counts as "required clauses present" for the tail
        # (ES semantics, boolquery._bool_runner): with only filter_range/
        # filter_term required, the tail base is every INDEXED doc (the
        # accumulators here are corpus-anchored, so no out-of-span case).
        if (required or struct is not None) and not msm and len(top) < k:
            eligible0 = (
                (must_cnt >= len(required)) if required else (self.norms > 0)
            ) & (sums <= 0.0)
            if excluded is not None:
                eligible0 &= ~excluded
            if struct is not None:
                eligible0 &= struct
            if self.tombstones is not None and self.tombstones.size:
                eligible0[self.tombstones[self.tombstones < eligible0.size]] = False
            top = _pad_zero_score(top, k, eligible0)
        return [(doc, score) for score, doc in top]

    def search_sort(
        self,
        sort_field: str,
        k: int = 10,
        ascending: bool = False,
        filter_term: dict | None = None,
        filter_range: dict | None = None,
        after: tuple | None = None,
    ) -> list[tuple[int, object]]:
        """ES ``sort``-query serving (the JVM-free mirror of
        operators/sortquery.sort_topk): the sort column loads ONCE per
        (field, commit) into the worker doc-value cache
        (state.load_sort_column — the Lucene doc_values analog) and the
        filter restrictions resolve to the SAME cached docID arrays the
        bool filter context uses, so a repeated sort query is pure numpy
        over cached arrays — no rescan. Missing (null) sort values rank
        last (ES ``missing: _last``), ties break doc_id ascending —
        row-identical to the Spark path. ``after`` = ES ``search_after``
        deep paging: the previous page's last (sort value, doc_id) key.
        Returns [(doc_id, sort_value)]."""
        from ..sources.catalog import committed_gen_paths
        from .boolquery import _struct_arrays
        from .sortquery import _validated_filters, sortable_fields
        from .state import load_sort_column
        from .wand import manifest_commit_seq

        if sort_field not in sortable_fields(self.index_dir):
            raise ValueError(
                f"sort field {sort_field!r} not a stored docmap field of "
                f"this index; it carries: "
                f"{list(sortable_fields(self.index_dir))}"
            )
        fr, ft = _validated_filters(self.index_dir, filter_term, filter_range)
        fe: tuple = ()
        dm_paths = tuple(committed_gen_paths(self.index_dir, "docmap"))
        seq = manifest_commit_seq(self.index_dir)
        ids, vals, valid = load_sort_column(dm_paths, seq, sort_field)
        if ids.size == 0:
            return []
        keep = np.ones(ids.size, dtype=bool)
        # filter context: cached sorted docID arrays (one per field), the
        # exact arrays bool filter_term/filter_range queries already keep
        # hot on this worker — membership via searchsorted on doc_id-
        # sorted ids
        for farr in _struct_arrays(fr, ft, fe, dm_paths, seq):
            keep &= _member_mask(farr, ids)
        if self.tombstones is not None and self.tombstones.size:
            keep &= ~np.isin(ids, self.tombstones)
        if after is not None:
            av, ad = after
            if av is None:
                # cursor already in the null tail: later-docID nulls only
                keep &= ~valid & (ids > int(ad))
            else:
                # compare on VALID entries only (None in an object array
                # would raise on <, >); nulls always survive a non-null
                # cursor (they rank after every value)
                further = np.zeros(ids.size, dtype=bool)
                eqv = np.zeros(ids.size, dtype=bool)
                vi = np.flatnonzero(valid)
                vv = vals[vi]
                further[vi] = (vv > av) if ascending else (vv < av)
                eqv[vi] = vv == av
                keep &= ~valid | further | (eqv & (ids > int(ad)))
        sel = keep & valid
        ids_v, vals_v = ids[sel], vals[sel]
        if ascending:
            order = np.lexsort((ids_v, vals_v))[: int(k)]
        else:
            # vals desc with doc_id ASC ties: ascending lexsort with ids
            # negated, then reversed
            order = np.lexsort((-ids_v, vals_v))[::-1][: int(k)]
        out = [(int(ids_v[i]), vals_v[i]) for i in order]
        if len(out) < int(k):
            # ES missing:_last tail — null sort values, doc_id ascending
            rest = np.sort(ids[keep & ~valid])[: int(k) - len(out)]
            out.extend((int(d), None) for d in rest)
        return out

    def _agg_base(self, field: str, filter_term, filter_range):
        """Shared serving base for the aggs: cached doc-value column +
        cached filter docID arrays + tombstone mask -> (values, valid)
        restricted to the matching live docs."""
        from ..sources.catalog import committed_gen_paths
        from .boolquery import _struct_arrays
        from .sortquery import _validated_filters
        from .state import load_sort_column
        from .wand import manifest_commit_seq

        fr, ft = _validated_filters(self.index_dir, filter_term, filter_range)
        dm_paths = tuple(committed_gen_paths(self.index_dir, "docmap"))
        seq = manifest_commit_seq(self.index_dir)
        ids, vals, valid = load_sort_column(dm_paths, seq, field)
        keep = np.ones(ids.size, dtype=bool)
        for farr in _struct_arrays(fr, ft, (), dm_paths, seq):
            keep &= _member_mask(farr, ids)
        if self.tombstones is not None and self.tombstones.size:
            keep &= ~np.isin(ids, self.tombstones)
        return vals[keep], valid[keep]

    def agg_terms(
        self,
        field: str,
        k: int = 10,
        filter_term: dict | None = None,
        filter_range: dict | None = None,
    ) -> list[tuple[object, int]]:
        """ES ``terms``-aggregation serving (operators/aggquery.terms_agg,
        JVM-free): np.unique bucket counts over the cached doc-value
        column, top-k by (count desc, value asc). Returns
        [(value, doc_count)]."""
        from .sortquery import sortable_fields

        if field not in sortable_fields(self.index_dir):
            raise ValueError(
                f"terms_agg field {field!r} not a stored docmap field of "
                f"this index; it carries: "
                f"{list(sortable_fields(self.index_dir))}"
            )
        vals, valid = self._agg_base(field, filter_term, filter_range)
        vv = vals[valid]
        if vv.size == 0:
            return []
        uniq, counts = np.unique(vv, return_counts=True)
        # count desc, value asc: ascending lexsort on (value, -count)
        order = np.lexsort((uniq, -counts))[: int(k)]
        return [(uniq[i], int(counts[i])) for i in order]

    def agg_stats(
        self,
        field: str,
        filter_term: dict | None = None,
        filter_range: dict | None = None,
    ) -> dict:
        """ES ``stats``-aggregation serving (aggquery.stats_agg): one pass
        over the cached numeric doc-value column. Returns {cnt, min_v,
        max_v, avg_v, sum_v} (None-valued beyond cnt when no doc has a
        value, matching the Spark row)."""
        from .boolquery import index_numeric_fields

        if field not in index_numeric_fields(self.index_dir):
            raise ValueError(
                f"stats_agg field {field!r} not a declared numeric "
                f"doc-value field; this index carries: "
                f"{list(index_numeric_fields(self.index_dir))}"
            )
        vals, valid = self._agg_base(field, filter_term, filter_range)
        vv = vals[valid].astype(np.float64)
        if vv.size == 0:
            return {"cnt": 0, "min_v": None, "max_v": None,
                    "avg_v": None, "sum_v": None}
        return {
            "cnt": int(vv.size),
            "min_v": float(vv.min()),
            "max_v": float(vv.max()),
            "avg_v": float(vv.mean()),
            "sum_v": float(vv.sum()),
        }

    def search_prefix(
        self, prefix: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES prefix-query serving: expand via the dictionary range seek
        (term-asc, capped — dictionary.lookup_terms_by_prefix) and score
        the expansion through the normal search path, so results equal a
        plain query on the expanded terms. Multi-token input is rejected
        (ES prefix matches one term; see boolquery.prefix_topk)."""
        from ..functions.textprep import tokenize as _tok
        from .dictionary import lookup_terms_by_prefix

        toks = _tok(prefix)
        if not toks:
            return []
        if len(toks) > 1:
            raise ValueError(
                f"prefix query {prefix!r} tokenizes to {len(toks)} tokens "
                f"({toks}); ES prefix queries match a single term"
            )
        terms = lookup_terms_by_prefix(self.index_dir, toks[0], max_expansions)
        if not terms:
            return []
        return self.search(" ".join(terms), k)

    def search_phrase(
        self, phrase: str, source_path: str | None = None, k: int = 10,
        max_candidates: int | None = None,
        slop: int = 0,
    ) -> list[tuple[int, float]]:
        """match_phrase serving (match-then-verify, the same design as
        operators/boolquery.phrase_topk): conjunctive candidates + scores
        from the index via search_bool, then adjacency verified against
        the SOURCE parquet at ``source_path`` (url, html) — candidate urls
        resolve through the docmap, source rows load via one pyarrow
        is_in-filtered read, and each candidate re-tokenizes with the
        build's own extract+tokenize. Verification IO is ∝ candidates
        (bounded by the rarest term's df), never corpus size — and the
        candidate count is GUARDED (``max_candidates``, default the
        Spark path's PHRASE_MAX_CANDIDATES): a stopword phrase would
        otherwise pull a corpus-sized url dict + source read through one
        searcher process. ``slop`` relaxes the verify with the same ES
        ``match_phrase`` slop semantics as the Spark path
        (boolquery._matches_phrase: span of slot-adjusted positions,
        transposition costs 2)."""
        import pyarrow.dataset as pads

        from ..functions.textprep import extract_text
        from ..functions.textprep import tokenize as _tok
        from ..sources.catalog import committed_gen_paths
        from .boolquery import PHRASE_MAX_CANDIDATES, _matches_phrase
        from .state import _parquet_files

        if max_candidates is None:
            max_candidates = PHRASE_MAX_CANDIDATES
        if slop < 0:
            raise ValueError("slop must be >= 0")
        ph = _tok(phrase)
        if not ph:
            return []
        cands = self.search_bool(
            {"must": " ".join(dict.fromkeys(ph))}, k=2**31 - 1
        )
        if not cands:
            return []
        if source_path is None:
            if not self.positions:
                raise ValueError(
                    "search_phrase needs source_path on a positions-free "
                    "index (or build with positions=True)"
                )
            return self._verify_phrase_positional(cands, ph, slop, k)
        if len(cands) > max_candidates:
            raise ValueError(
                f"phrase verify would check {len(cands)} candidate docs "
                f"(> max_candidates={max_candidates}): the phrase's terms "
                "are too frequent for positions-free serving (ES "
                "rewrite-guard analog) — use the Spark path with "
                "on_overflow='scan', or index positions"
            )
        score_by_doc = dict((d, s) for d, s in cands)
        dm_files = _parquet_files(
            tuple(committed_gen_paths(self.index_dir, "docmap"))
        )
        import pyarrow as pa

        dm = pads.dataset(dm_files).to_table(
            columns=["doc_id", "url"],
            filter=pads.field("doc_id").isin(
                pa.array(sorted(score_by_doc), pa.int64())
            ),
        )
        doc_by_url = dict(
            zip(dm.column("url").to_pylist(), dm.column("doc_id").to_pylist())
        )
        src = pads.dataset(source_path).to_table(
            columns=["url", "html"],
            filter=pads.field("url").isin(
                pa.array(sorted(doc_by_url), pa.string())
            ),
        )
        out = []
        for u, h in zip(src.column("url").to_pylist(), src.column("html").to_pylist()):
            toks = _tok(extract_text(h))
            if _matches_phrase(toks, ph, slop):
                d = doc_by_url[u]
                out.append((d, score_by_doc[d]))
        out.sort(key=lambda e: (-e[1], e[0]))
        return out[:k]

    def _verify_phrase_positional(
        self, cands: list[tuple[int, float]], ph: list[str],
        slop: int, k: int,
    ) -> list[tuple[int, float]]:
        """Positional serve verify (v2 index): one pruned segment read per
        phrase term WITH the pos columns, per-candidate occurrence lists
        through the SAME _matches_occ criterion as the Spark path — no
        source IO at all.

        First-touch decode is BLOCK-SELECTED (the per-query Spark runner's
        Lucene-skip analog, boolquery._phrase_runner pass 2): only blocks
        whose [first, last] docID range contains a candidate decode their
        position bytes, so a rare+common phrase decodes ~df(rare) blocks
        of the common term instead of its whole sidecar. Partial decodes
        are NOT cached — the cache holds only COMPLETE term entries (a
        later query's candidates could need postings a partial entry
        dropped); a term whose candidate blocks exceed half its list
        decodes fully and enters the bytes-budgeted LRU."""
        from ..functions import codec as _codec
        from .boolquery import _matches_occ

        self._resolve_terms(list(dict.fromkeys(ph)))
        infos = {t: self._dict.get(t) for t in set(ph)}
        if any(v is None for v in infos.values()):
            return []
        eligible = np.sort(
            np.asarray([d for d, _s in cands], dtype=np.int64)
        )
        need = [t for t in infos if t not in self._pos_decoded]
        rows = (
            self._load_term_rows([int(infos[t][0]) for t in need], _POS_COLS)
            if need
            else {}
        )
        decoded: dict[str, tuple] = {}
        BLK = _codec.BLOCK
        for t in need:
            rl = rows.get(int(infos[t][0])) or []
            d_parts, tf_parts, pos_parts = [], [], []
            full = True
            for enc in rl:  # already doc_min-sorted by _load_term_rows
                d_i, tf_i = _codec.decode_postings(enc)
                bf = np.asarray(enc["block_first"], dtype=np.int64)
                bl = np.asarray(enc["block_last"], dtype=np.int64)
                nb = bf.size
                i0 = np.searchsorted(eligible, bf)
                needed = (i0 < eligible.size) & (
                    eligible[np.minimum(i0, eligible.size - 1)] <= bl
                )
                n_need = int(needed.sum())
                if n_need == 0:
                    full = False
                    continue
                if n_need > nb // 2:
                    # above half the blocks the single whole-row decode
                    # wins (no per-block call overhead) — same crossover
                    # as the Spark runner
                    d_parts.append(d_i)
                    tf_parts.append(tf_i)
                    pos_parts.append(
                        _codec.decode_positions(enc["pos_blob"], tf_i)
                    )
                else:
                    full = False
                    for b in np.flatnonzero(needed):
                        sl = slice(
                            int(b) * BLK, min((int(b) + 1) * BLK, d_i.size)
                        )
                        tfb = tf_i[sl]
                        d_parts.append(d_i[sl])
                        tf_parts.append(tfb)
                        pos_parts.append(
                            _codec.decode_positions_block(enc, tfb, int(b))
                        )
            if not d_parts:
                return []
            d = np.concatenate(d_parts)
            tf = np.concatenate(tf_parts)
            poss = np.concatenate(pos_parts)
            pstart = np.zeros(d.size + 1, dtype=np.int64)
            np.cumsum(tf, out=pstart[1:])
            decoded[t] = (d, poss, pstart)
            if full:
                self._pos_decoded[t] = decoded[t]
        for t in infos:
            if t in decoded:
                continue
            entry = self._pos_decoded.pop(t)
            self._pos_decoded[t] = entry  # LRU move-to-end on hit
            decoded[t] = entry
        self._bound_pos_cache(keep=len(infos))
        out = []
        for doc, score in cands:
            occ = []
            for s, t in enumerate(ph):
                d, poss, pstart = decoded[t]
                j = int(np.searchsorted(d, doc))
                if j >= d.size or d[j] != doc:
                    occ = None
                    break
                occ.append(poss[pstart[j] : pstart[j + 1]])
            if occ is not None and _matches_occ(occ, slop):
                out.append((doc, score))
        out.sort(key=lambda e: (-e[1], e[0]))
        return out[:k]

    def _bound_pos_cache(self, keep: int) -> None:
        """Evict least-recently-used POSITIONS entries until under the
        bytes budget (_POS_CACHE_MAX_BYTES). Accounting includes every
        array the entry holds — docs + position values + pstart — not
        just position counts (ADVICE r5: the old posting-count bound
        under-billed by several x). Never evicts the ``keep`` most recent
        entries (the query in flight)."""
        total = sum(
            d.nbytes + p.nbytes + ps.nbytes
            for d, p, ps in self._pos_decoded.values()
        )
        while (
            total > _POS_CACHE_MAX_BYTES
            and len(self._pos_decoded) > keep
        ):
            _t, (d, p, ps) = next(iter(self._pos_decoded.items()))
            del self._pos_decoded[_t]
            total -= d.nbytes + p.nbytes + ps.nbytes

    def _decode_terms_parallel(self, need: list, rows: dict) -> None:
        """Decode uncached terms into the cache, MULTI-TERM queries in a
        small thread pool: the varbyte decode kernels are numpy (GIL
        released for the array ops), so a 3-head-term conjunction decodes
        ~Nx faster — this was the serve-tier p90 tail. Entries are stored
        exactly as taat_topk would build them (doc_min-ordered concat,
        float64 tfs), so the cache-hit path is bit-identical."""
        from ..functions import codec as _codec
        from .wand import B as _B
        from .wand import K1 as _K1

        norms, avgdl = self.norms, self.avgdl

        def dec(item):
            t, tid = item
            encs = rows.get(tid, [])
            if not encs:
                return None
            parts = [_codec.decode_postings(e) for e in encs]
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts]).astype(np.float64)
            dl = norms[d].astype(np.float64)
            tfn = tf / (tf + _K1 * ((1.0 - _B) + (_B * dl) / avgdl))
            return t, (d, tfn)

        if len(need) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(need))) as ex:
                results = list(ex.map(dec, need))
        else:
            results = [dec(item) for item in need]
        for r in results:
            if r is not None:
                self._decoded[r[0]] = r[1]

    def _bound_decode_cache(self) -> None:
        """Evict least-recently-used decoded terms (dict head — hits are
        moved to the tail in search()) until under the postings budget
        (~16 bytes/posting: int64 docs + float64 tfs). Always keeps at
        least the most recent entry: evicting the term just decoded would
        guarantee a re-decode on its next appearance while buying nothing
        for the terms that remain."""
        total = sum(d.size for d, _tf in self._decoded.values())
        while total > _DECODE_CACHE_MAX_POSTINGS and len(self._decoded) > 1:
            _t, (d, _tf) = next(iter(self._decoded.items()))
            del self._decoded[_t]
            total -= d.size


def searcher_for_catalog(root: str, alias: str = "documents") -> LocalSearcher:
    """Open the CURRENT index (the alias pointer) for serving.

    Resolves the directory via Catalog naming ({prefix}{alias}_{schema}) so
    multiple aliases sharing one catalog root open THEIR index, never another
    alias's index that happens to share the schema version string."""
    from ..sources.catalog import Catalog

    cat = Catalog(root, alias=alias)
    current = cat.get_current_schema()
    assert current, "no current schema (alias not pointed)"
    idx_dir = cat.index_dir(current)
    if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
        raise FileNotFoundError(
            f"no index dir {idx_dir} for schema {current} under {root}"
        )
    return LocalSearcher(idx_dir)
