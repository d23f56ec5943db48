"""Job configuration.

Mirrors the reference's serializable ``options`` dict
(es_translator/es_translator.py:66-91, :136-163) which round-trips
through Celery so a job can be planned on one node and executed on
others. Here the config is hashed into the build manifest so a resumed
run can verify it is continuing the *same* job (lineage check).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass


@dataclass(frozen=True)
class IndexConfig:
    # --- BM25 scoring (ES/Lucene defaults; SURVEY §7.0) ---
    k1: float = 1.2
    b: float = 0.75

    # --- analysis ---
    # Lowercase + [a-z0-9]+ extraction, an ES `standard`-approximate
    # analyzer. MUST match refscore tokenization exactly (it does by
    # construction: both call analysis.tokenize_series).
    token_pattern: str = "[a-z0-9]+"
    # Truncate input text to this many chars before tokenizing
    # (ref: --max-content-length, es_translator/es.py:120-121). 0 = off.
    max_content_length: int = 0

    # --- index layout ---
    # Postings are cut into self-contained blocks of this many docs;
    # each block carries (first_doc, gaps, tfs, dls, max_impact).
    block_size: int = 128
    # Terms are hashed into this many directory partitions of the
    # segments table (partition pruning for term lookups; the analog of
    # ES shard routing, es_translator/es.py:73-80).
    n_term_buckets: int = 16
    # Hot-term skew defuser: each term's postings are range-split into
    # this many salt buckets by doc_ord so no single reducer builds a
    # Zipf-head term alone (SURVEY §4.2). Buckets are doc_ord-range
    # disjoint, so merging = concatenating block lists in range order.
    n_salt_buckets: int = 8
    # The stage-2 segment build commits term_buckets in this many
    # chunks; each chunk is one job + one manifest row → resume
    # granularity (ref resume semantics: es_translator/es.py:131-150).
    n_build_chunks: int = 4

    # --- execution ---
    # Partitions for the doc_ord assignment range-shuffle; 0 = let
    # Spark/AQE decide (defaultParallelism).
    n_doc_partitions: int = 0
    # How the stable (conv_id, turn_idx) docID order is established:
    #   'shuffle' — repartitionByRange + sortWithinPartitions (the
    #               general path: works on any input order, at the cost
    #               of shuffling the full text corpus once).
    #   'verify'  — trust-but-verify sorted input (round 5): skip the
    #               range shuffle entirely and keep the input's own
    #               partitioning. The tokenize kernel checks row order
    #               WITHIN each partition as it streams (vectorized,
    #               carries the last key across batches) and the
    #               existing bookkeeping job returns each partition's
    #               (min, max) key so the driver checks partitions are
    #               globally NON-OVERLAPPING before assigning offsets
    #               in key order — any violation raises with guidance
    #               to use 'shuffle'. This is the Iceberg sort-order
    #               exploitation path: a table write-ordered by
    #               (conv_id, turn_idx) — the natural layout for
    #               transcripts — needs no full-corpus exchange to get
    #               stable docIDs, it needs a proof, and the proof is
    #               O(rows) comparisons + one tiny driver check.
    input_order: str = "shuffle"
    # The forward (docs) table is directory-partitioned by
    # doc_block = doc_ord // doc_block_size: point resolves prune to
    # the blocks holding the requested doc_ords, and partial updates
    # (annotate) rewrite ONLY the affected blocks. 2^24 docs/block →
    # ~60k partitions at 1e12 docs.
    doc_block_size: int = 1 << 24
    # Write the stage-1 packed SPIMI runs (one varint row per (term,
    # salt, input partition), see build._make_pack_kernel) to disk,
    # partitioned by term_bucket, as the resume checkpoint (resume
    # granularity = segment chunk). False = stream the packed runs
    # straight into the segment merge (single chunk, skips one write
    # and read of the runs, but a resumed run recomputes stage 1).
    checkpoint_runs: bool = True
    # Build the term dictionary table (term -> df). Queries don't need
    # it (routing is hashed; df comes from segment rows) — it exists
    # for analytics and the J5 inventory; skippable for raw throughput.
    build_terms_dict: bool = True
    # Store within-doc token positions in the posting blocks (the
    # Lucene positions stream analog). Required for phrase queries;
    # costs ~1 varint per occurrence of index size. Positions ride the
    # token order through the packed runs, so every input_order and
    # checkpoint_runs setting supports them.
    store_positions: bool = False
    # The segment encoder. 'packed' (map-side SPIMI combine, one
    # (term, salt) exchange, reduce-side merge) is the only build
    # path; the field stays so callers that name it keep working, and
    # any other value raises.
    encoder: str = "packed"

    # Keys from_json drops from an older index's stats JSON: the
    # encoder (older indexes say 'stream' or 'collect') and the removed
    # term dictionary-encoding switches. None changed the segment
    # format.
    _RETIRED = ("encoder", "dict_terms", "dict_max_vocab")

    def __post_init__(self):
        if self.encoder != "packed":
            raise ValueError(
                f"encoder must be 'packed' (the only segment encoder), "
                f"got {self.encoder!r}")

    def term_bucket_of(self, term: str) -> int:
        """Client-side term -> segment partition routing (the analog of
        ES `_routing`, es_translator/es.py:73-80): crc32-derived so the
        driver can prune partitions WITHOUT a dictionary lookup. Must
        match build.term_bucket_col (F.crc32) exactly."""
        import zlib

        return zlib.crc32(term.encode()) % self.n_term_buckets

    def config_hash(self) -> str:
        payload = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "IndexConfig":
        """Rebuild a config from an index's stats JSON, dropping the
        retired keys older indexes carry (e.g. encoder='stream')."""
        d = json.loads(s)
        for k in IndexConfig._RETIRED:
            d.pop(k, None)
        return IndexConfig(**d)


def parse_size(value: str) -> int:
    """'100' | '10K' | '5M' | '2G' -> integer chars (SURVEY C4; the
    reference's validate_max_content_length grammar,
    es_translator/cli.py:85-111: a number with an optional K/M/G
    binary-unit suffix)."""
    import re

    m = re.match(r"^([0-9]+)([KMG]?)$", (value or "").strip().upper())
    if not m:
        raise ValueError(
            "max content length should be a number optionally "
            "followed by K or M or G")
    return int(m.group(1)) * {
        "": 1, "K": 1024, "M": 1024 ** 2, "G": 1024 ** 3}[m.group(2)]
