"""THE north_rule check (SURVEY §5.2.2): engine top-k must be
rank-identical with scores equal to <=1e-6 vs the brute-force numpy
reference scorer on the fixed query set, for both the batch DataFrame
path and the driver Block-Max-WAND path, OR and AND modes."""

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, build_index, search_batch
from sparkbm25.fixtures import make_queries, make_transcripts

N_TURNS = 4000


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(N_TURNS)


@pytest.fixture(scope="module")
def queries():
    return make_queries()


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx") / "index")
    sdf = spark.createDataFrame(corpus)
    res = build_index(spark, sdf, index_dir, IndexConfig(), input_desc="fixture4k")
    assert res.n_docs == N_TURNS
    return index_dir


def _assert_parity(got: pd.DataFrame, exp: pd.DataFrame):
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    exp = exp.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    assert got["query_id"].tolist() == exp["query_id"].tolist()
    assert got["rank"].tolist() == exp["rank"].tolist()
    # rank-identical docIDs
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist()
    np.testing.assert_allclose(got["score"], exp["score"], rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("mode", ["or", "and"])
def test_batch_parity(spark, corpus, queries, built, mode):
    exp = bm25_reference_topk(corpus, queries, k=10, mode=mode)
    got = search_batch(spark, built, queries, k=10, mode=mode).toPandas()
    _assert_parity(got, exp)


@pytest.mark.parametrize("mode", ["or", "and"])
@pytest.mark.parametrize("algo", ["maxscore", "wand"])
def test_driver_parity(spark, corpus, queries, built, mode, algo):
    """Both driver OR algorithms — chunked vectorized MaxScore (the
    default) and block-max WAND (the block-metadata twin) — must be
    rank-identical with oracle-equal scores."""
    searcher = Searcher(spark, built, or_algo=algo)
    exp = bm25_reference_topk(corpus, queries, k=10, mode=mode)
    for q in queries.itertuples(index=False):
        got = searcher.search(q.query_text, k=10, mode=mode)
        eq = exp[exp["query_id"] == q.query_id].reset_index(drop=True)
        assert len(got) == len(eq), f"q{q.query_id}: {len(got)} != {len(eq)}"
        assert got["conv_id"].tolist() == eq["conv_id"].tolist()
        assert got["turn_idx"].tolist() == eq["turn_idx"].tolist()
        np.testing.assert_allclose(
            got["score"].astype(float), eq["score"].astype(float), rtol=1e-9)


def test_streamlined_config_parity(spark, corpus, queries, tmp_path):
    """The bench configuration (no runs checkpoint: the packed runs
    stream straight into the segment merge) must be rank-identical
    too."""
    cfg = IndexConfig(n_build_chunks=1, checkpoint_runs=False,
                      build_terms_dict=False)
    d = str(tmp_path / "fastidx")
    sdf = spark.createDataFrame(corpus)
    res = build_index(spark, sdf, d, cfg, input_desc="fast")
    assert res.n_docs == N_TURNS
    exp = bm25_reference_topk(corpus, queries, k=10)
    got = search_batch(spark, d, queries, k=10).toPandas()
    _assert_parity(got, exp)


def test_text_equality_invariant(spark, corpus, built):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    (BASELINE.json input_hint): the forward table's docID assignment
    must join back 1:1 to the input with no loss or reorder."""
    from pyspark.sql import functions as F
    from sparkbm25 import catalog

    docs = spark.read.parquet(catalog.docs_dir(built))
    src = spark.createDataFrame(corpus)
    joined = docs.join(src, ["conv_id", "turn_idx"], "full_outer")
    assert joined.where(F.col("doc_ord").isNull() | F.col("text").isNull()).count() == 0
    assert docs.count() == len(corpus)
    # doc_ord is the dense rank of (conv_id, turn_idx): ordering by
    # doc_ord must equal ordering by the natural key
    pdf = docs.orderBy("doc_ord").toPandas()
    natural = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    assert natural["doc_ord"].is_monotonic_increasing
    assert pdf["doc_ord"].tolist() == list(range(len(pdf)))
