"""The one segment build path: map-side SPIMI combine.

The build shuffles one varint row per (term, salt, input partition)
instead of one row per token occurrence, then merge-concatenates on
the reduce side (input-partition doc ranges are disjoint and
min_doc-ordered). The contract: segments come out BYTE-IDENTICAL to
the pure-numpy reference builder (tests/segref.py) — same groups, same
blocks, same varint payloads, same per-block max_impact — with and
without the positions stream, whether the packed runs stream straight
into the merge or go through the on-disk checkpoint, so every
downstream consumer (search, compaction, annotate, terms dict) is
automatically covered by the existing suite.
"""

import json
import os
import shutil

import pandas as pd
import pytest

from segref import assert_segments_equal, read_segments, reference_segments
from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, build_index
from sparkbm25.catalog import read_stats, stats_path
from sparkbm25.fixtures import make_queries, make_transcripts

N_TURNS = 3000


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(N_TURNS)


def _cfg(**kw):
    base = dict(n_term_buckets=8, n_salt_buckets=4, n_build_chunks=1,
                n_doc_partitions=4, checkpoint_runs=False,
                build_terms_dict=False)
    base.update(kw)
    return IndexConfig(**base)


def _build(spark, corpus, root, store_positions, **kw):
    idx = os.path.join(root, f"idx_{int(store_positions)}")
    shutil.rmtree(idx, ignore_errors=True)
    cfg = _cfg(store_positions=store_positions, **kw)
    res = build_index(spark, spark.createDataFrame(corpus), idx, cfg)
    assert res.n_docs == N_TURNS
    return idx


@pytest.mark.parametrize("store_positions", [False, True])
def test_packed_segments_byte_identical(spark, corpus, tmp_path_factory,
                                        store_positions):
    root = str(tmp_path_factory.mktemp("packed_parity"))
    idx = _build(spark, corpus, root, store_positions)
    assert_segments_equal(
        read_segments(spark, idx),
        reference_segments(corpus, _cfg(store_positions=store_positions)))


@pytest.mark.parametrize("input_order", ["shuffle", "verify"])
@pytest.mark.parametrize("store_positions", [False, True])
def test_checkpointed_segments_byte_identical(spark, corpus, tmp_path,
                                              input_order, store_positions):
    """checkpoint_runs=True writes the packed runs partitioned by
    term_bucket and merges them back chunk by chunk (3 chunks over 8
    buckets): the segments must equal the reference exactly like the
    direct build's, positions included, for both input orders."""
    cfg = _cfg(checkpoint_runs=True, n_build_chunks=3,
               store_positions=store_positions, input_order=input_order)
    sorted_pdf = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    sdf = (spark.createDataFrame(sorted_pdf).coalesce(3)
           if input_order == "verify" else spark.createDataFrame(corpus))
    idx = str(tmp_path / "idx")
    build_index(spark, sdf, idx, cfg)
    runs = spark.read.parquet(os.path.join(idx, "tf"))
    assert "min_doc" in runs.columns and "runs" in runs.columns
    assert_segments_equal(read_segments(spark, idx),
                          reference_segments(corpus, cfg))


def test_packed_index_searchable(spark, corpus, tmp_path_factory):
    """End-to-end: a packed-built index answers the fixed query set
    rank-identically to the numpy BM25 reference scorer on the driver."""
    root = str(tmp_path_factory.mktemp("packed_search"))
    idx = _build(spark, corpus, root, False)
    queries = make_queries()
    exp = bm25_reference_topk(corpus, queries, k=10)
    s = Searcher(spark, idx)
    for q in queries.itertuples(index=False):
        got = s.search(q.query_text, k=10)
        eq = exp[exp["query_id"] == q.query_id].reset_index(drop=True)
        for col in ("rank", "conv_id", "turn_idx"):
            assert got[col].tolist() == eq[col].tolist(), (q.query_text, col)
        assert len(eq) == 0 or (eq["score"] - got["score"]).abs().max() < 1e-9


def test_packed_edge_corpus_byte_identical(spark, tmp_path_factory):
    """Adversarial corpus: null/empty/whitespace texts (tokenize to []
    and must vanish from postings while staying in the forward table),
    a single hot term repeated many times in one doc (tf run-length),
    unicode terms (dictionary-encode + crc32 bucketing on non-ASCII),
    and a one-doc tail partition."""
    texts = (
        [None, "", "   ", "!!!"]
        + ["spark " * 50]                      # tf=50 in one doc
        + ["über naïve café 北京 données"] * 3   # unicode
        + [f"w{i % 7} common w{i % 3}" for i in range(200)]
        + ["lonely"]                            # tail
    )
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:06d}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [None] * len(texts),
    })
    idx = str(tmp_path_factory.mktemp("packed_edge") / "idx")
    cfg = _cfg(n_term_buckets=4, n_salt_buckets=3, n_doc_partitions=5,
               store_positions=True)
    res = build_index(spark, spark.createDataFrame(pdf), idx, cfg)
    assert res.n_docs == len(texts)  # empties stay in the forward table
    got = read_segments(spark, idx)
    assert_segments_equal(got, reference_segments(pdf, cfg))
    # the tf=50 run survived run-length counting
    spk = got[got["term"] == "spark"]
    assert int(spk["n_docs"].sum()) >= 1


def test_packed_incremental_append_and_compact(spark, corpus,
                                               tmp_path_factory):
    """The build through the generational pipeline: two update_index
    appends (disjoint doc_ord_base ranges exercise the pack kernel's
    absolute-first-doc encoding at a nonzero base) plus an auto-compact
    fold must answer queries identically to a one-shot build over the
    full corpus."""
    from sparkbm25.streaming import update_index

    root = str(tmp_path_factory.mktemp("packed_gen") / "idx")
    cfg = _cfg()
    half = N_TURNS // 2
    update_index(spark, spark.createDataFrame(corpus.iloc[:half]), root, cfg)
    res = update_index(spark, spark.createDataFrame(corpus.iloc[half:]),
                       root, cfg, auto_compact_after=2)
    assert res.n_docs == N_TURNS - half

    one_shot = _build(spark, corpus,
                      str(tmp_path_factory.mktemp("packed_gen_ref")), False)
    s_gen, s_ref = Searcher(spark, root), Searcher(spark, one_shot)
    for q in make_queries()["query_text"]:
        got, exp = s_gen.search(q, k=10), s_ref.search(q, k=10)
        assert got["conv_id"].tolist() == exp["conv_id"].tolist(), q
        assert len(exp) == 0 or (exp["score"] - got["score"]).abs().max() < 1e-9


def test_old_index_stats_still_open(spark, corpus, tmp_path):
    """Indexes written before the build had one encoder carry
    encoder='stream' and two dictionary-encoding keys in their stats
    JSON. The segment format never depended on them: such an index
    must answer identically and still compact."""
    from sparkbm25.streaming import compact_generations, update_index

    root = str(tmp_path / "idx")
    cfg = _cfg(store_positions=True)
    half = N_TURNS // 2
    update_index(spark, spark.createDataFrame(corpus.iloc[:half]), root, cfg)
    update_index(spark, spark.createDataFrame(corpus.iloc[half:]), root, cfg)
    queries = list(make_queries()["query_text"]) + ['"w0001 w0002"']
    before = {q: Searcher(spark, root).search(q, k=10) for q in queries}

    gens = sorted(d for d in os.listdir(root) if d.startswith("gen="))
    assert len(gens) == 2
    for g in gens:
        stats = read_stats(os.path.join(root, g))
        old = json.loads(stats["config"])
        old.update(encoder="stream", dict_terms="off", dict_max_vocab=4_000_000)
        stats["config"] = json.dumps(old, sort_keys=True)
        with open(stats_path(os.path.join(root, g)), "w") as f:
            json.dump(stats, f, sort_keys=True)

    s = Searcher(spark, root)
    for q in queries:
        pd.testing.assert_frame_equal(s.search(q, k=10), before[q])
    res = compact_generations(spark, root)
    assert res is not None and res.n_docs == N_TURNS
    s = Searcher(spark, root)
    for q in queries:
        got = s.search(q, k=10)
        assert got["conv_id"].tolist() == before[q]["conv_id"].tolist(), q
