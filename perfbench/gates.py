"""Correctness gates. They run outside the timed path; any mismatch
fails the run.

- term-only queries are rank-identical to ``refscore.bm25_reference_topk``
  with scores within 1e-9 (the oracle is slow, so its answers are cached
  per input hash);
- driver (``Searcher.search``) answers equal ``search_batch`` answers;
- a build indexes every input turn and every (term, turn) posting.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd

from inputs import config_for, content_hash

SCORE_TOL = 1e-9


class GateError(AssertionError):
    pass


def _hits(df: pd.DataFrame) -> pd.DataFrame:
    cols = ["rank", "conv_id", "turn_idx", "score"]
    if df is None or len(df) == 0:
        return pd.DataFrame({c: [] for c in cols})
    return (df[cols].sort_values("rank").reset_index(drop=True)
            .astype({"turn_idx": "int64", "score": "float64"}))


def same_hits(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    g, w = _hits(got), _hits(want)
    keys_g = list(zip(g["conv_id"], g["turn_idx"]))
    keys_w = list(zip(w["conv_id"], w["turn_idx"]))
    if keys_g != keys_w:
        raise GateError(f"{what}: ranking differs\n got {keys_g}\nwant {keys_w}")
    if len(g) and not np.allclose(g["score"], w["score"], rtol=SCORE_TOL,
                                  atol=SCORE_TOL):
        raise GateError(f"{what}: scores differ beyond {SCORE_TOL}\n"
                        f" got {g['score'].tolist()}\nwant {w['score'].tolist()}")


def oracle_topk(corpus: pd.DataFrame, queries: pd.DataFrame, cache_dir: str,
                corpus_hash: str) -> pd.DataFrame:
    """Reference answers for OR term queries, cached per (corpus,
    queries) content hash."""
    from sparkbm25 import bm25_reference_topk

    q = queries[["query_id", "query_text", "k"]].reset_index(drop=True)
    path = os.path.join(cache_dir, f"oracle-{corpus_hash}-{content_hash(q)}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    out = bm25_reference_topk(corpus, q, k=10, config=config_for())
    os.makedirs(cache_dir, exist_ok=True)
    out.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    return out


def check_oracle(answers: dict[int, pd.DataFrame], queries: pd.DataFrame,
                 corpus: pd.DataFrame, cache_dir: str, corpus_hash: str) -> int:
    """answers: query_id -> engine hits for the OR term queries in
    `queries`. Returns the number of queries checked."""
    want = oracle_topk(corpus, queries, cache_dir, corpus_hash)
    for q in queries.itertuples(index=False):
        same_hits(answers[q.query_id], want[want["query_id"] == q.query_id],
                  f"oracle query {q.query_text!r}")
    return len(queries)


def check_driver_vs_batch(driver: dict[int, pd.DataFrame], batch: pd.DataFrame,
                          queries: pd.DataFrame) -> int:
    for q in queries.itertuples(index=False):
        same_hits(driver[q.query_id], batch[batch["query_id"] == q.query_id],
                  f"driver vs search_batch on {q.query_text!r}")
    return len(queries)


_TOKEN = re.compile(r"[a-z0-9]+")


def expected_postings(pdf: pd.DataFrame, cache_dir: str) -> int:
    """Distinct (term, turn) pairs under the engine's default analyzer
    (lowercase, [a-z0-9]+), computed independently of the program and
    cached per input hash."""
    path = os.path.join(cache_dir, f"postings-{content_hash(pdf)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return int(json.load(f))
    n = int(sum(len(set(_TOKEN.findall(t.lower()))) for t in pdf["text"].fillna("")))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(n, f)
    os.replace(path + ".tmp", path)
    return n


def check_build(n_docs: int, manifest: pd.DataFrame, pdf: pd.DataFrame,
                want: int, what: str) -> int:
    """A build (or append) indexed every turn of its input and `want`
    postings. Returns the posting count."""
    if n_docs != len(pdf):
        raise GateError(f"{what}: n_docs {n_docs} != {len(pdf)} input turns")
    postings = int(manifest.loc[manifest["stage"] == "segments", "n_turns"].sum())
    if postings != want:
        raise GateError(f"{what}: {postings} postings != {want} expected")
    return postings
