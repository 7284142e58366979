"""Footer-indexed dictionary seek (dictionary.TermSeek) and the serving
tier's five-column TAAT read: equivalence with a full fold of every
dictionary generation, with the full-row decode, and — on an index whose
dict_by_term is one row group (the older layout) — with the oracle."""

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions import codec
from osu_elastic_indexer_spark.functions.textprep import extract_text
from osu_elastic_indexer_spark.operators import build as build_mod
from osu_elastic_indexer_spark.operators.build import DICT_ROW_GROUP_BYTES, build_index
from osu_elastic_indexer_spark.operators.dictionary import fold_delta_rows
from osu_elastic_indexer_spark.operators.serve import _TAAT_COLS, LocalSearcher
from osu_elastic_indexer_spark.sources.catalog import Catalog, committed_gen_paths
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
    reference_queries,
)
from osu_elastic_indexer_spark.streaming.incremental import incremental_update

from util import assert_rank_identical

_SETTINGS = settings(max_examples=40, deadline=None)


def _gen_files(idx: str, table: str) -> list[list[str]]:
    return [
        sorted(glob.glob(os.path.join(g, "*.parquet")))
        for g in committed_gen_paths(idx, table)
    ]


@pytest.fixture(scope="module")
def cdc_index(spark, tmp_path_factory):
    """Full build + one CDC generation whose batch vocabulary spans more
    than one 64 KB dictionary group (pyarrow fast-path delta)."""
    d = tmp_path_factory.mktemp("seek_cdc")
    base = generate_documents(1000)
    final = evolve_corpus(base, n_new=600, n_update=40, n_flip=20)
    pq.write_table(base, str(d / "base.parquet"))
    pq.write_table(final, str(d / "final.parquet"))
    cat = Catalog(str(d / "idx"))
    build_index(spark, spark.read.parquet(str(d / "base.parquet")), cat, "v1")
    incremental_update(spark, spark.read.parquet(str(d / "final.parquet")), cat, "v1")
    idx = cat.index_dir("v1")
    # oracle: every PRIMARY dictionary generation read whole, then folded
    t = pq.read_table(
        [f for gen in _gen_files(idx, "dictionary") for f in gen],
        columns=["term", "term_id", "df"],
    )
    full = fold_delta_rows(
        zip(
            t.column("term").to_pylist(),
            t.column("term_id").to_pylist(),
            t.column("df").to_pylist(),
        )
    )
    return idx, full, LocalSearcher(idx)


def test_cdc_delta_dictionary_groups_sized_like_gen0(cdc_index):
    """The CDC generation's dict_by_term delta is cut into groups of about
    DICT_ROW_GROUP_BYTES, the target gen 0 is written with."""
    idx, _full, _s = cdc_index
    gens = _gen_files(idx, "dict_by_term")
    assert len(gens) == 2 and len(gens[1]) == 1
    pf = pq.ParquetFile(gens[1][0])
    assert pf.metadata.num_row_groups > 1
    for g in range(pf.metadata.num_row_groups - 1):
        nbytes = pf.read_row_group(g).nbytes
        assert 0.75 * DICT_ROW_GROUP_BYTES <= nbytes <= 1.25 * DICT_ROW_GROUP_BYTES


@given(data=st.data())
@_SETTINGS
def test_searcher_seek_equals_full_fold(cdc_index, data):
    """The searcher's resolve equals fold_delta_rows over a full read of
    every generation: delta df folded, term_id = max, absent terms memoized
    as None — on a fresh searcher and on one that has memoized earlier
    draws."""
    idx, full, shared = cdc_index
    vocab = sorted(full)
    terms = data.draw(
        st.lists(
            st.one_of(
                st.sampled_from(vocab),
                st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8),
            ),
            min_size=1,
            max_size=12,
        )
    )
    for s in (LocalSearcher(idx), shared):
        s._resolve_terms(terms)
        for t in terms:
            assert t in s._dict
            assert s._dict[t] == full.get(t), t


def test_taat_rows_decode_like_full_rows(cdc_index):
    """Rows read with only the five TAAT columns decode to exactly the
    postings the full rows decode to, for every segment row of a sample of
    head, mid and tail terms across both generations."""
    idx, full, s = cdc_index
    by_df = sorted(full.items(), key=lambda kv: -kv[1][1])
    tids = [tid for _t, (tid, _df) in by_df[:20] + by_df[1000:1020] + by_df[-20:]]
    cut = s._load_term_rows(tids, _TAAT_COLS)
    whole = s._load_term_rows(tids)
    assert cut.keys() == whole.keys() and len(cut) > 40
    for tid, rows in whole.items():
        assert len(cut[tid]) == len(rows)
        for c, w in zip(cut[tid], rows):
            assert set(c) == {"doc_min", "n_docs", "docs_blob", "tfs_blob"}
            dc, tc = codec.decode_postings(c)
            dw, tw = codec.decode_postings(w)
            assert np.array_equal(dc, dw) and np.array_equal(tc, tw)


@pytest.fixture(scope="module")
def one_group_index(spark, corpus_path, tmp_path_factory):
    """An index whose dict_by_term is ONE row group (the 2 MB target the
    projection used to be written with), plus the oracle over its docs in
    the engine's id space."""
    cat = Catalog(str(tmp_path_factory.mktemp("seek_one_group")))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build_mod, "DICT_ROW_GROUP_BYTES", 2 << 20)
        build_index(spark, spark.read.parquet(corpus_path), cat, "v1")
    idx = cat.index_dir("v1")
    id_by_url = {
        r.url: r.doc_id
        for r in spark.read.parquet(cat.table_path("v1", "docmap")).collect()
    }
    tbl = pq.read_table(corpus_path)
    rows = [
        (id_by_url[u], extract_text(h))
        for u, h, lang, txt in zip(
            tbl["url"].to_pylist(),
            tbl["html"].to_pylist(),
            tbl["lang"].to_pylist(),
            tbl["text"].to_pylist(),
        )
        if lang == "en" and txt
    ]
    return idx, oracle.build_index(rows)


def test_one_group_dictionary_reference_queries_match_oracle(one_group_index):
    idx, orc = one_group_index
    (files,) = _gen_files(idx, "dict_by_term")
    assert sum(pq.ParquetFile(f).metadata.num_row_groups for f in files) == 1
    s = LocalSearcher(idx)
    for qid, q, k in reference_queries():
        assert_rank_identical(s.search(q, k), oracle.search(orc, q, k), msg=f"q{qid} {q!r}")


@given(data=st.data())
@_SETTINGS
def test_one_group_dictionary_rank_identical_to_oracle(one_group_index, data):
    """A cold searcher over the single-group dictionary answers random
    queries (vocabulary terms, some absent) rank-identically to the
    oracle."""
    idx, orc = one_group_index
    vocab = sorted(orc.postings)
    words = data.draw(
        st.lists(
            st.one_of(st.sampled_from(vocab), st.sampled_from(["zzqx", "w99999"])),
            min_size=1,
            max_size=5,
        )
    )
    q = " ".join(words)
    k = data.draw(st.integers(min_value=1, max_value=20))
    assert_rank_identical(
        LocalSearcher(idx).search(q, k),
        oracle.search(orc, q, k),
        msg=repr(q),
        expect_full=oracle.search(orc, q, k + 50),
    )
