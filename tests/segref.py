"""Pure-numpy reference segment builder for the byte-identity tests.

It restates the index contract without Spark: documents are numbered
by (conv_id, turn_idx) order, tokenized with analysis.tokenize_series,
grouped by (term, salt) with the engine's salt and crc32 bucket
formulas, and block-encoded with codec.encode_blocks_batch (positions
included when store_positions is set). Any build path must produce
exactly these segment rows.
"""

import os
import zlib

import numpy as np
import pandas as pd

from sparkbm25.analysis import tokenize_series
from sparkbm25.codec import encode_blocks_batch
from sparkbm25.config import IndexConfig


def reference_segments(corpus: pd.DataFrame, cfg: IndexConfig,
                       doc_ord_base: int = 0) -> pd.DataFrame:
    """Segment rows (term_bucket, term, salt, n_docs, blocks) sorted by
    (term, salt), as the build should write them for `corpus`."""
    docs = (corpus.sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True))
    n = len(docs)
    toks = tokenize_series(docs["text"], cfg.token_pattern,
                           cfg.max_content_length)
    dl = toks.str.len().to_numpy(dtype=np.int64)
    avgdl = int(dl.sum()) / n if n else 0.0
    total = int(dl.sum())

    doc = np.repeat(np.arange(n, dtype=np.int64) + doc_ord_base, dl)
    starts = np.concatenate(([0], np.cumsum(dl)[:-1])).astype(np.int64)
    occ = pd.DataFrame({
        "term": [t for ts in toks for t in ts],
        "doc": doc,
        "pos": np.arange(total, dtype=np.int64) - np.repeat(starts, dl),
        "dl": np.repeat(dl, dl),
    })
    ns = cfg.n_salt_buckets
    occ["salt"] = np.minimum(
        ns - 1, (occ["doc"].to_numpy() - doc_ord_base) * ns // max(n, 1))
    occ = occ.sort_values(["term", "salt", "doc", "pos"],
                          kind="mergesort").reset_index(drop=True)

    post = (occ.groupby(["term", "salt", "doc"], sort=False)
            .agg(tf=("pos", "size"), dl=("dl", "first")).reset_index())
    group_change = np.ones(len(post), dtype=bool)
    group_change[1:] = ((post["term"].to_numpy()[1:]
                         != post["term"].to_numpy()[:-1])
                        | (post["salt"].to_numpy()[1:]
                           != post["salt"].to_numpy()[:-1]))
    gstarts = np.flatnonzero(group_change)
    group_offsets = np.append(gstarts, len(post)).astype(np.int64)
    tfs = post["tf"].to_numpy(dtype=np.int64)
    kw = {}
    if cfg.store_positions:
        kw = {"positions": occ["pos"].to_numpy(),
              "occ_offsets": np.concatenate(([0], np.cumsum(tfs)))}
    blocks = encode_blocks_batch(
        post["doc"].to_numpy(dtype=np.int64), tfs,
        post["dl"].to_numpy(dtype=np.int64), group_offsets,
        k1=cfg.k1, b=cfg.b, avgdl=avgdl, block_size=cfg.block_size, **kw)

    terms = post["term"].to_numpy()[gstarts]
    return pd.DataFrame({
        "term_bucket": [zlib.crc32(t.encode()) % cfg.n_term_buckets
                        for t in terms],
        "term": terms,
        "salt": post["salt"].to_numpy()[gstarts].astype(np.int32),
        "n_docs": np.diff(group_offsets),
        "blocks": blocks,
    })


def read_segments(spark, index_dir: str) -> pd.DataFrame:
    return (spark.read.parquet(os.path.join(index_dir, "segments"))
            .toPandas().sort_values(["term", "salt"])
            .reset_index(drop=True))


def assert_segments_equal(got: pd.DataFrame, ref: pd.DataFrame) -> None:
    """Same groups, buckets and doc counts, and every block dict equal
    field by field (varint payloads, max_impact, positions)."""
    assert len(got) == len(ref) and len(ref) > 0
    for col in ("term", "salt", "n_docs", "term_bucket"):
        assert got[col].tolist() == ref[col].tolist(), col
    for term, bg, br in zip(ref["term"], got["blocks"], ref["blocks"]):
        assert [dict(x) for x in bg] == [dict(x) for x in br], term
