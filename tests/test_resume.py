"""Resume semantics (SURVEY §5.2.4): kill after K of N chunks, re-run
with resume=True, final index must be byte-identical in content to a
clean one-shot build. This is the engine analog of the reference's
idempotency predicate + plan/execute resumability
(es_translator/es.py:131-150, es_translator.py:124-134)."""

import shutil

import pytest
from pyspark.sql import functions as F

from segref import assert_segments_equal, read_segments
from sparkbm25 import IndexConfig, build_index, search_batch
from sparkbm25.catalog import read_manifest, segments_chunk_dir
from sparkbm25.fixtures import make_queries, make_transcripts


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(make_transcripts(2000)).cache()


def _segments_pdf(spark, index_dir):
    return (
        spark.read.parquet(f"{index_dir}/segments")
        .select("term", "salt", "n_docs")
        .orderBy("term", "salt")
        .toPandas()
    )


@pytest.mark.parametrize("store_positions", [False, True])
def test_resume_after_partial_build(spark, corpus_df, tmp_path,
                                    store_positions):
    """The checkpoint is the packed SPIMI runs (partitioned by
    term_bucket); positions ride them, so they resume too."""
    cfg = IndexConfig(n_build_chunks=4, store_positions=store_positions)
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crashed")

    build_index(spark, corpus_df, clean_dir, cfg, input_desc="r2000")
    build_index(spark, corpus_df, crash_dir, cfg, input_desc="r2000")

    # simulate a crash after chunk 0+1: delete chunks 2,3 and their
    # manifest rows would normally be absent — emulate by rebuilding
    # the manifest without those rows
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    for chunk in (2, 3):
        shutil.rmtree(segments_chunk_dir(crash_dir, chunk))
    m = read_manifest(crash_dir)
    kept = m[~((m["stage"] == "segments") & (m["partition_id"].isin([2, 3])))]
    # terms stage depends on all segments: drop it too
    kept = kept[kept["stage"] != "terms"]
    shutil.rmtree(f"{crash_dir}/manifest")
    os.makedirs(f"{crash_dir}/manifest")
    pq.write_table(pa.Table.from_pandas(kept, preserve_index=False),
                   f"{crash_dir}/manifest/part-rebuilt.parquet")
    shutil.rmtree(f"{crash_dir}/terms")

    # resume must rebuild exactly chunks 2,3 + terms
    build_index(spark, corpus_df, crash_dir, cfg, resume=True, input_desc="r2000")

    got = _segments_pdf(spark, crash_dir)
    exp = _segments_pdf(spark, clean_dir)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp.reset_index(drop=True))
    # block payloads too, the positions stream included
    assert_segments_equal(read_segments(spark, crash_dir),
                          read_segments(spark, clean_dir))

    # and the resumed index answers queries identically
    q = make_queries()
    a = search_batch(spark, crash_dir, q, k=5).toPandas()
    b = search_batch(spark, clean_dir, q, k=5).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values(["query_id", "rank"]).reset_index(drop=True),
        b.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )

    # manifest of the resumed run only re-did 2,3(+terms): chunks 0,1
    # appear exactly once
    m2 = read_manifest(crash_dir)
    seg_rows = m2[m2["stage"] == "segments"]
    assert sorted(seg_rows["partition_id"].tolist()) == [0, 1, 2, 3]


def test_config_change_invalidates_checkpoint(spark, corpus_df, tmp_path):
    """lineage mismatch => resume must NOT reuse old chunks (the
    reference's --force semantics are implicit here: a different job
    config is a different job)."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus_df, d, IndexConfig(n_build_chunks=2), input_desc="x")
    m1 = read_manifest(d)
    # resume with a different config: everything rebuilds
    build_index(spark, corpus_df, d, IndexConfig(n_build_chunks=2, block_size=64),
                resume=True, input_desc="x")
    m2 = read_manifest(d)
    assert len(m2) > len(m1)
    segs = spark.read.parquet(f"{d}/segments")
    # block_size=64: no block may hold more than 64 docs
    mx = segs.select(F.explode("blocks").alias("b")).agg(F.max("b.n")).collect()[0][0]
    assert mx <= 64


def test_dirty_staging_cleared(spark, corpus_df, tmp_path):
    """A crash mid-write leaves _staging; a fresh or resumed build must
    clear it and still commit correctly."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(f"{d}/_staging/segchunk1/junk", exist_ok=True)
    with open(f"{d}/_staging/segchunk1/junk/file.bin", "wb") as f:
        f.write(b"garbage")
    build_index(spark, corpus_df, d, IndexConfig(), resume=True, input_desc="y")
    assert not os.path.exists(f"{d}/_staging")
    assert spark.read.parquet(f"{d}/segments").count() > 0


def test_empty_corpus_build_and_search(spark, tmp_path):
    """A zero-row input builds a valid (empty) index and every query
    path answers empty instead of crashing."""
    import pandas as pd

    from sparkbm25 import IndexConfig, Searcher, build_index, search_batch

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
    d = str(tmp_path / "emptyidx")
    res = build_index(spark, empty, d,
                      IndexConfig(n_term_buckets=4, n_salt_buckets=2,
                                  n_build_chunks=1),
                      input_desc="empty")
    assert res.n_docs == 0
    q = pd.DataFrame({"query_id": [0], "query_text": ["alpha"], "k": [5]})
    assert search_batch(spark, d, q, k=5).count() == 0
    s = Searcher(spark, d)
    assert len(s.search("alpha", k=5)) == 0
