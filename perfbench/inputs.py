"""Seeded inputs: the transcripts corpora, the query mixes and the index
configuration every workload builds with.

The program only ever sees what this module generates. Every generated
input is identified by a content hash that the result records, so a
change to ``sparkbm25.fixtures`` shows up as a different hash instead
of silently changing the workload.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import re
from collections import Counter

import numpy as np
import pandas as pd

# Query shapes of the driver (Searcher) mix, per block of 20 queries.
# Plain OR queries are the majority; every driver route is covered:
# maxscore/dense (OR), and (AND), filtered (role:), or_merge (phrase,
# NOT). Every EXPANSION_EVERY-th block turns one OR query into a prefix
# or fuzzy expansion (alternately), which starts a Spark dictionary job
# when its pattern is not cached yet: about 1 s each, so they stay rare
# enough not to take the whole run. The mix is synthetic: no real
# traffic log exists.
SHAPE_BLOCK = ["or"] * 12 + ["and"] * 2 + ["filter"] * 2 + ["phrase"] * 2 + ["not"] * 2
EXPANSION_EVERY = 5
EXPANSION_SHAPES = ("prefix", "fuzzy")
# One search_batch call: two OR queries, an AND, a NOT and one shape
# that adds a Spark stage (phrase verify, then prefix and fuzzy
# dictionary expansions, cycled call by call). The first call of a fresh
# JVM costs about 6 s.
BATCH_CALL_SHAPES = ("or", "or", "and", "not", ("phrase", "prefix", "fuzzy"))
# batch query ids start here, apart from the driver mix's
BATCH_ID_BASE = 1_000_000
ROLES = ("user", "assistant", "system", "tool")
ZIPF_S = 1.0
STRATA = 100

# bench.py's headline build settings plus store_positions=True (phrase
# queries need positions). Fields that may be deleted from IndexConfig
# go through config_for(), which drops any field the class lacks.
HEADLINE_CONFIG = {
    "n_term_buckets": 32,
    "n_salt_buckets": 8,
    "n_build_chunks": 1,
    "n_doc_partitions": 8,
    "build_terms_dict": False,
    "input_order": "verify",
    "store_positions": True,
    "encoder": "packed",
    "checkpoint_runs": False,
    "dict_terms": "off",
}
N_INPUT_FILES = 8


def config_for():
    """IndexConfig with HEADLINE_CONFIG, skipping any field the class no
    longer has (the encoder/checkpoint/dict switches are slated for
    deletion; the benchmark must keep running after they go)."""
    from sparkbm25 import IndexConfig

    fields = {f.name for f in dataclasses.fields(IndexConfig)}
    return IndexConfig(**{k: v for k, v in HEADLINE_CONFIG.items() if k in fields})


def content_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    h.update(",".join(df.columns).encode())
    return h.hexdigest()[:16]


def make_corpus(n_turns: int, seed: int) -> pd.DataFrame:
    """A conv-sorted transcripts table from the program's own fixture
    generator (the input shape the engine is specified against)."""
    from sparkbm25.fixtures import make_transcripts

    return make_transcripts(n_turns, seed=seed)


def write_parquet(pdf: pd.DataFrame, directory: str) -> str:
    """Write `pdf` in row order as N_INPUT_FILES non-overlapping files,
    so the scan keeps the (conv_id, turn_idx) order that
    input_order='verify' proves at build time. Idempotent per dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    done = os.path.join(directory, "_DONE")
    if os.path.exists(done):
        return directory
    os.makedirs(directory, exist_ok=True)
    step = max(1, -(-len(pdf) // N_INPUT_FILES))
    for i in range(N_INPUT_FILES):
        part = pdf.iloc[i * step:(i + 1) * step]
        if len(part):
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(directory, f"part-{i:04d}.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")
    return directory


_TOKEN = re.compile(r"[a-z0-9]+")


class QueryMaker:
    """Seeded query_string generator over a corpus's own vocabulary.

    Terms are drawn with Zipf weights (1/rank) over the corpus terms
    ranked by frequency, so frequent terms repeat across queries and
    hit the Searcher caches; phrases are adjacent token pairs taken
    from real turns, so they match."""

    def __init__(self, corpus: pd.DataFrame, seed: int):
        self.rng = np.random.default_rng(seed)
        texts = corpus["text"].fillna("").str.lower()
        sample = texts.iloc[:: max(1, len(texts) // 20000)]
        counts = Counter(t for s in sample for t in _TOKEN.findall(s))
        # word-like terms only (the wNNNN vocabulary and the hot term):
        # pure-digit tokens are tokenizer edge cases, not query words
        vocab = [t for t, _ in counts.most_common() if not t.isdigit()]
        self.vocab = np.array(vocab)
        w = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.texts = sample.tolist()
        self.n_expansions = 0
        self._draws: list[int] = []

    def _draw(self) -> str:
        """One Zipf-weighted term. Draws are stratified in chunks of
        STRATA: each chunk takes one uniform from each of STRATA equal
        slices of [0, 1), in random order, so every chunk holds close to
        the expected count of each hot term and seeds differ in which
        terms and where, not in how hot the mix is."""
        if not self._draws:
            u = (self.rng.permutation(STRATA) + self.rng.random(STRATA)) / STRATA
            ranks = np.minimum(np.searchsorted(self.cdf, u), len(self.vocab) - 1)
            self._draws = ranks.tolist()
        return self.vocab[self._draws.pop()]

    def _terms(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self._draw()
            if t not in out:
                out.append(t)
        return out

    def _phrase(self) -> str:
        while True:
            toks = _TOKEN.findall(self.texts[self.rng.integers(len(self.texts))])
            toks = [t for t in toks if not t.isdigit()]
            if len(toks) >= 2:
                i = int(self.rng.integers(len(toks) - 1))
                return f'"{toks[i]} {toks[i + 1]}"'

    def _wterm(self) -> str:
        # expansions anchor on the wNNNN vocabulary: a 4-char prefix
        # (w012*) expands to 10 terms, a fuzzy term to its 1-edit
        # neighbours
        while True:
            t = self._draw()
            if re.fullmatch(r"w\d{4}", t):
                return t

    def one(self, shape: str) -> str:
        if shape == "or":
            return " ".join(self._terms(int(self.rng.integers(2, 5))))
        if shape == "and":
            a, b = self._terms(2)
            return f"{a} AND {b}"
        if shape == "filter":
            role = ROLES[int(self.rng.integers(len(ROLES)))]
            return f"role:{role} " + " ".join(self._terms(2))
        if shape == "phrase":
            return self._phrase()
        if shape == "not":
            a, b, c = self._terms(3)
            return f"{a} {b} NOT {c}"
        if shape == "prefix":
            return self._wterm()[:4] + "*"
        if shape == "fuzzy":
            return self._wterm() + "~1"
        raise ValueError(shape)

    def mix(self, n: int) -> pd.DataFrame:
        """n queries: SHAPE_BLOCKs shuffled within each block, so every
        seed gets the same shape counts in every block."""
        shapes: list[str] = []
        while len(shapes) < n:
            block = list(SHAPE_BLOCK)
            if len(shapes) // len(block) % EXPANSION_EVERY == EXPANSION_EVERY - 1:
                block[0] = EXPANSION_SHAPES[self.n_expansions % 2]
                self.n_expansions += 1
            self.rng.shuffle(block)
            shapes.extend(block)
        return self.fixed(shapes[:n])

    def batch_calls(self, n_calls: int) -> list[pd.DataFrame]:
        """Query sets for search_batch calls, BATCH_CALL_SHAPES each.
        The cycling slots walk their shapes in a fixed order, so call j
        has the same shapes for every seed; only the terms vary."""
        calls = []
        for j in range(n_calls):
            shapes = [s if isinstance(s, str) else s[j % len(s)]
                      for s in BATCH_CALL_SHAPES]
            calls.append(self.fixed(shapes, first_id=BATCH_ID_BASE + j * len(shapes)))
        return calls

    def fixed(self, shapes: list[str], first_id: int = 0) -> pd.DataFrame:
        """One query per entry of `shapes`, in that order."""
        n = len(shapes)
        return pd.DataFrame({
            "query_id": np.arange(first_id, first_id + n, dtype=np.int32),
            "query_text": [self.one(s) for s in shapes],
            "shape": shapes,
            "k": np.full(n, 10, dtype=np.int32),
        })
