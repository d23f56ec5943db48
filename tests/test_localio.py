"""The driver's local pyarrow fast path (localio) must return
byte-identical results to the Spark fallback for every read it
serves: postings fetch, df probe, forward-row resolve (including ts
attrs for filtered queries), across single- and multi-generation
indexes. The fallback stays live for non-local roots, so both paths
are permanent and must agree forever."""

import datetime

import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, build_index
from sparkbm25.fixtures import make_queries, make_transcripts
from sparkbm25.localio import local_path
from sparkbm25.streaming import update_index

N_TURNS = 3000


def test_local_path_parsing():
    assert local_path("/a/b") == "/a/b"
    assert local_path("file:/a/b") == "/a/b"
    assert local_path("file:///a/b") == "/a/b"
    assert local_path("file://localhost/a/b") == "/a/b"
    assert local_path("file://other/a/b") is None
    assert local_path("hdfs://nn/a/b") is None
    assert local_path("s3a://bucket/a") is None
    assert local_path("relative/dir") == "relative/dir"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("lio") / "index")
    sdf = spark.createDataFrame(make_transcripts(N_TURNS))
    # store_positions=True so the phrase case also exercises the pos
    # blob field through the pyarrow block read
    build_index(spark, sdf, index_dir,
                IndexConfig(store_positions=True, checkpoint_runs=False),
                input_desc="lio")
    return index_dir


def _spark_forced(spark, index_dir) -> Searcher:
    s = Searcher(spark, index_dir)
    s._local_segs = None
    s._local_docs = None
    return s


def test_local_readers_bound(spark, built):
    s = Searcher(spark, built)
    assert s._local_segs is not None and s._local_docs is not None


QUERIES = [
    "w0000",                       # hot term
    "w4721",                       # rare term
    "w0001 w0005 w0100",           # multi-term
    "zzznotaterm",                 # absent
    "role:user w0001 w0005",       # filtered driver path (attrs)
    'ts:[2024-01-01 TO 2024-12-31] w0002',  # ts attr through doc cache
    '"w0001 w0002"',               # phrase (positions untouched here)
]


@pytest.mark.parametrize("qt", QUERIES)
def test_fetch_parity_single_gen(spark, built, qt):
    a = Searcher(spark, built).search(qt, k=10)
    b = _spark_forced(spark, built).search(qt, k=10)
    pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                  b.reset_index(drop=True))


def test_fetch_parity_multi_gen(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lio_gen") / "index")
    base = make_transcripts(N_TURNS)
    spl = N_TURNS // 2
    update_index(spark, spark.createDataFrame(base.iloc[:spl]), root)
    update_index(spark, spark.createDataFrame(base.iloc[spl:]), root)
    for qt in ("w0000", "w0001 w0005", "role:user w0001"):
        a = Searcher(spark, root).search(qt, k=10)
        b = _spark_forced(spark, root).search(qt, k=10)
        pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                      b.reset_index(drop=True))


def test_doc_cache_rows_identical(spark, built):
    """The cached forward rows (incl. the ts attr rendering) must match
    between the pyarrow read and the Spark collect — python_filter
    evaluates structured predicates over these rows."""
    s_new = Searcher(spark, built)
    s_old = _spark_forced(spark, built)
    ords = list(range(0, 50))
    s_new._fetch_doc_rows(ords)
    s_old._fetch_doc_rows(ords)
    assert set(s_new._doc_cache) == set(s_old._doc_cache)
    for o in ords:
        a, b = s_new._doc_cache[o], s_old._doc_cache[o]
        assert a == b, (o, a, b)
        ts = a[2].get("ts")
        if ts is not None:
            assert isinstance(ts, datetime.datetime) and ts.tzinfo is None


def test_probe_dfs_parity(spark, built):
    terms = sorted({t for q in make_queries()["query_text"]
                    for t in q.lower().split()})
    s_new = Searcher(spark, built)
    s_old = _spark_forced(spark, built)
    assert s_new._probe_dfs(terms) == s_old._probe_dfs(terms)
    # per-query (uncached) probe path too
    s_new2 = Searcher(spark, built, max_cached_dict_rows=0)
    s_old2 = _spark_forced(spark, built)
    s_old2.max_cached_dict_rows = 0
    assert s_new2._probe_dfs(terms) == s_old2._probe_dfs(terms)
