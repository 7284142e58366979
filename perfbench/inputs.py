"""Seeded inputs and the oracle they are checked against.

Everything the program receives is generated here from the workload seed:
the corpus (``sources.fixtures.write_corpus``), the CDC delta
(``evolve_corpus``) and the query streams. The same seed gives the same
inputs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text, tokenize
from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    reference_queries,
    write_corpus,
)

# ~90% of generated docs are lang='en' and get indexed
N_DOCS = 6000
K = 10
# The build's adaptive salt cap is max(50_000, ...): at this corpus size it
# would put every term in one salt cell, and the salted merge would never
# split a term. Scaling the 50_000 floor by N_DOCS / 100_000 keeps the
# 2-cell grid a 100k-doc corpus gets, for the build and for a CDC batch.
SALT_GROUP_CAP = 50_000 * N_DOCS // 100_000

# The query mix is taken from what the repository states, not tuned:
# - terms are Zipf-distributed over the vocabulary ranked by df, with the
#   exponent the corpus generator draws its tokens with
#   (sources/fixtures.py, generate_documents);
# - the share of absent-term queries and the 1/2/3-term length mix are
#   those of reference_queries() (FIXTURES.md section 1b);
# - a bool spec is a query as "must" with bench.py's fixed exclusion term as
#   "must_not";
# - the wand and bool batches have the size of the reference query set,
#   as bench.py's wand_batch20 and bool_batch20.
ZIPF_S = 1.3
ABSENT_TERM = "xyzzyabsent"
MUST_NOT_TERM = "w00777"
REFERENCE_BATCH = len(reference_queries())


def reference_mix() -> tuple[float, list[int]]:
    """(share of absent-term queries, token counts of the others) in the
    repository's reference query set."""
    lengths, absent = [], 0
    for _qid, q, _k in reference_queries():
        toks = tokenize(q)
        if ABSENT_TERM in toks:
            absent += 1
        else:
            lengths.append(len(toks))
    return absent / (absent + len(lengths)), lengths


def indexable(lang, text) -> bool:
    """The build's ShouldIndex predicate: lang 'en' and non-empty text."""
    return lang == "en" and bool(text)


def write_seeded_corpus(path: str, seed: int) -> float:
    """Write the seeded corpus to ``path``; -> seconds it took."""
    t0 = time.perf_counter()
    write_corpus(path, N_DOCS, seed=seed)
    return time.perf_counter() - t0


def write_cdc_batch(base, path: str, seed: int, batch: int):
    """Evolve ``base`` by one seeded CDC batch (new, re-crawled and
    lang-flipped urls) and write the whole new source table to ``path``."""
    evolved = evolve_corpus(
        base,
        n_new=N_DOCS // 20,
        n_update=N_DOCS // 50,
        n_flip=N_DOCS // 100,
        seed=seed * 1000 + batch,
    )
    pq.write_table(evolved, path, row_group_size=8192)
    return evolved


def expected_cdc_counts(before, after, live_urls: set[str]) -> tuple[int, int]:
    """(adds, deletes) a cursor batch must commit: every row newer than the
    old cursor is in the batch; indexable ones are added, and every batch
    url that is live now is tombstoned first."""
    cursor = max(before.column("warc_ts").to_pylist())
    adds = deletes = 0
    for url, ts, lang, text in zip(
        after.column("url").to_pylist(),
        after.column("warc_ts").to_pylist(),
        after.column("lang").to_pylist(),
        after.column("text").to_pylist(),
    ):
        if ts <= cursor:
            continue
        if url in live_urls:
            deletes += 1
            live_urls.discard(url)
        if indexable(lang, text):
            adds += 1
            live_urls.add(url)
    return adds, deletes


def indexed_urls(tbl) -> set[str]:
    return {
        u
        for u, lang, text in zip(
            tbl.column("url").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("text").to_pylist(),
        )
        if indexable(lang, text)
    }


def text_bytes(tbl) -> int:
    """UTF-8 bytes of the text the build indexes."""
    return sum(
        len(text.encode("utf-8"))
        for lang, text in zip(
            tbl.column("lang").to_pylist(), tbl.column("text").to_pylist()
        )
        if indexable(lang, text)
    )


def live_doc_ids(index_dir: str) -> dict[str, int]:
    """url -> docID for the index's committed, non-tombstoned docs, read
    from its docmap and tombstone generations."""
    ids: dict[str, int] = {}
    for d in committed_gen_paths(index_dir, "docmap"):
        t = pq.read_table(d, columns=["url", "doc_id"])
        ids.update(zip(t.column("url").to_pylist(), t.column("doc_id").to_pylist()))
    dead = set()
    for d in committed_gen_paths(index_dir, "tombstones"):
        dead.update(pq.read_table(d, columns=["doc_id"]).column("doc_id").to_pylist())
    return {u: i for u, i in ids.items() if i not in dead}


class Oracle:
    """The pure-python reference over the source rows in the index's docID
    space (the engine assigns ids, the oracle defines scores)."""

    def __init__(self, tbl, index_dir: str):
        ids = live_doc_ids(index_dir)
        self.texts: dict[int, str] = {}
        for url, html, lang, text in zip(
            tbl.column("url").to_pylist(),
            tbl.column("html").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("text").to_pylist(),
        ):
            if url in ids and indexable(lang, text):
                self.texts[ids[url]] = extract_text(html) or ""
        self.index = oracle.build_index(list(self.texts.items()))

    def search(self, q: str, k: int = K):
        return oracle.search(self.index, q, k)

    def search_bool(self, spec: dict, k: int = K):
        return oracle.search_bool(self.index, spec, k)

    def search_phrase(self, q: str, k: int = K):
        return oracle.search_phrase(self.index, self.texts, q, k)

    def terms_by_df(self) -> list[str]:
        """Vocabulary ordered by document frequency, most common first."""
        return sorted(self.index.postings, key=lambda t: (-len(self.index.postings[t]), t))


class QueryGen:
    """Seeded queries in the reference set's mix (see ``reference_mix``)
    whose terms are Zipf-skewed over the corpus vocabulary ranked by df, so
    head terms and stopwords repeat across requests; each request is an
    independent draw."""

    def __init__(self, seed: int, orc: Oracle):
        self.rng = np.random.default_rng([seed, 7])
        self.vocab = orc.terms_by_df()
        self.docs = sorted(orc.texts)
        self.texts = orc.texts
        self.absent_share, self.lengths = reference_mix()

    def _term(self) -> str:
        rank = int(self.rng.zipf(ZIPF_S))
        while rank > len(self.vocab):
            rank = int(self.rng.zipf(ZIPF_S))
        return self.vocab[rank - 1]

    def _query(self) -> str:
        if self.rng.random() < self.absent_share:
            return ABSENT_TERM
        n = self.lengths[int(self.rng.integers(len(self.lengths)))]
        return " ".join(self._term() for _ in range(n))

    def stream(self, n: int) -> list[str]:
        return [self._query() for _ in range(n)]

    def bool_specs(self, n: int) -> list[dict]:
        return [{"must": q, "must_not": MUST_NOT_TERM} for q in self.stream(n)]

    def phrases(self, n: int) -> list[str]:
        """Two-token phrases cut from indexed docs, so each has a match (a
        synthetic mix: the repository states no phrase traffic)."""
        out = []
        while len(out) < n:
            toks = tokenize(self.texts[self.docs[int(self.rng.integers(len(self.docs)))]])
            if len(toks) < 2:
                continue
            i = int(self.rng.integers(len(toks) - 1))
            out.append(f"{toks[i]} {toks[i + 1]}")
        return out


def segment_salts(index_dir: str) -> set[int]:
    """Salt cells that occur in the index's committed segment rows."""
    salts: set[int] = set()
    for d in committed_gen_paths(index_dir, "segments"):
        salts.update(pq.read_table(d, columns=["salt"]).column("salt").to_pylist())
    return salts


INDEX_TABLES = ("segments", "dictionary", "dict_by_term", "docmap", "fwd", "tombstones", "stats")


def _table_dirs(index_dir: str, table: str) -> list[str]:
    from osu_elastic_indexer_spark.sources.catalog import resolve_table_dir

    if table == "stats":  # not an append table: one committed dir
        return [resolve_table_dir(index_dir, table)]
    return committed_gen_paths(index_dir, table)


def table_disk_bytes(index_dir: str) -> dict[str, tuple[int, int]]:
    """table -> (bytes, files) of its committed parquet files."""
    out = {}
    for table in INDEX_TABLES:
        total = files = 0
        for d in _table_dirs(index_dir, table):
            for root, _sub, names in os.walk(d):
                for name in names:
                    if name.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, name))
                        files += 1
        out[table] = (total, files)
    return out


def index_disk_bytes(index_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files in the index's committed tables."""
    per_table = table_disk_bytes(index_dir).values()
    return sum(b for b, _f in per_table), sum(f for _b, f in per_table)


def table_rows(index_dir: str, table: str):
    """Every committed row of ``table``, sorted on its integer and string
    columns, so two indexes can be compared whatever their file layout."""
    import pyarrow as pa

    parts = [pq.read_table(d) for d in _table_dirs(index_dir, table)]
    if not parts:
        return None
    tbl = pa.concat_tables(parts)
    keys = [
        (f.name, "ascending")
        for f in tbl.schema
        if pa.types.is_integer(f.type) or pa.types.is_string(f.type)
    ]
    return tbl.sort_by(keys) if keys else tbl


if __name__ == "__main__":
    # python3 perfbench/inputs.py <seed> <path>...: write the seeded corpus
    # to each path in turn and print the seconds each took, one per line
    import sys

    for p in sys.argv[2:]:
        print(write_seeded_corpus(p, int(sys.argv[1])), flush=True)
