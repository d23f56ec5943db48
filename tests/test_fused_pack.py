"""The fused tokenize+pack scan (verify-order builds keep token lists
out of stage 1 and re-derive (doc_ord, tokens) inside the pack kernel)
must produce segments byte-identical to the numpy reference builder
(tests/segref.py), and answers identical to the shuffle-order build,
for every tokenizer path: ASCII fast path, non-ASCII pandas fallback,
truncation, and null text. The re-scan must also reproduce exactly the
row counts the bookkeeping pass saw, or raise."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from segref import assert_segments_equal, read_segments, reference_segments
from sparkbm25 import IndexConfig, Searcher, build_index
from sparkbm25.build import _make_tok_ingest


def _mixed_corpus(n: int = 400) -> pd.DataFrame:
    rows = []
    for i in range(n):
        if i % 7 == 0:
            text = f"héllo wörld Ünïcode w{i % 13:04d} straße"  # non-ASCII
        elif i % 11 == 0:
            text = None                                         # null text
        else:
            text = f"w{i % 13:04d} W{i % 5:04d}! and-some MIXED text {i}"
        rows.append({"conv_id": f"c{i:06d}", "turn_idx": 0,
                     "role": "user" if i % 2 else "agent",
                     "text": text, "tool": None})
    return pd.DataFrame(rows)


@pytest.mark.parametrize("maxlen", [0, 24])
def test_fused_pack_matches_stream(spark, tmp_path_factory, maxlen):
    """Named for the occurrence-stream encoder it was first checked
    against; the reference is now tests/segref.py."""
    corpus = _mixed_corpus()
    root = str(tmp_path_factory.mktemp(f"fused_{maxlen}"))
    # sorted single parquet file so input_order='verify' accepts it
    src = os.path.join(root, "src")
    spark.createDataFrame(corpus).coalesce(1).write.parquet(src)
    sdf = spark.read.parquet(src)
    ref_dir, got_dir = os.path.join(root, "ref"), os.path.join(root, "got")
    base = dict(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1,
                n_doc_partitions=2, checkpoint_runs=False,
                build_terms_dict=False, max_content_length=maxlen)
    build_index(spark, sdf, ref_dir,
                IndexConfig(input_order="shuffle", **base))
    build_index(spark, sdf, got_dir,
                IndexConfig(input_order="verify", **base))
    ref = reference_segments(corpus, IndexConfig(**base))
    assert_segments_equal(read_segments(spark, ref_dir), ref)
    assert_segments_equal(read_segments(spark, got_dir), ref)
    # unicode-bearing query answers identically (fallback tokenization)
    sa, sb = Searcher(spark, ref_dir), Searcher(spark, got_dir)
    for q in ("w0001", "stra", "mixed text"):
        ga, gb = sa.search(q, k=10), sb.search(q, k=10)
        pd.testing.assert_frame_equal(ga.reset_index(drop=True),
                                      gb.reset_index(drop=True))


class _Bc:
    def __init__(self, value):
        self.value = value


def _scan_batches(pid, rows_per_file):
    """Arrow batches as the fused scan sees them: one batch per file,
    each file a contiguous run of one _fid."""
    out = []
    for fid, n in enumerate(rows_per_file):
        out.append(pa.RecordBatch.from_pydict({
            "pid": pa.array([pid] * n, pa.int32()),
            "_fid": pa.array([1000 + fid] * n, pa.int64()),
            "text": pa.array([f"w{i} common" for i in range(n)]),
        }))
    return out


def _run_ingest(table, batches):
    ingest, finish = _make_tok_ingest(_Bc(table), "[a-z0-9]+", 0)()
    docs = [ingest(rb)[0] for rb in batches]
    finish()
    return np.concatenate(docs)


def test_tok_ingest_maps_units_to_doc_ords():
    docs = _run_ingest({(0, 0): (10, 3), (0, 1): (0, 2)},
                       _scan_batches(0, [3, 2]))
    assert docs.tolist() == [10, 11, 12, 0, 1]


def test_tok_ingest_raises_on_row_count_drift():
    """An offsets table one row short of what the re-scan yields (and
    one row long) means the scan did not reproduce the bookkeeping
    pass: doc_ords would silently shift, so the ingest must raise."""
    batches = _scan_batches(0, [3, 2])
    with pytest.raises(RuntimeError, match="input_order='shuffle'"):
        _run_ingest({(0, 0): (0, 3), (0, 1): (3, 1)}, batches)
    with pytest.raises(RuntimeError, match="input_order='shuffle'"):
        _run_ingest({(0, 0): (0, 3), (0, 1): (3, 3)}, batches)
    with pytest.raises(RuntimeError, match="input_order='shuffle'"):
        _run_ingest({(0, 0): (0, 3), (0, 1): (3, 2), (0, 2): (5, 4)},
                    batches)
