"""Frozen tokenizer spec — the rank-identity contract (FIXTURES.md §6).

The reference delegates tokenization to its embedding model
(/root/reference/statschat/preprocess.py:181-195); our engine replaces dense
retrieval with BM25, so the tokenizer *is* the semantic contract shared by the
Spark engine, the numpy oracle, and the DuckDB oracle SQL. Spec:

- lowercase (Python ``str.lower`` semantics)
- tokens = maximal runs of ``[a-z0-9]+`` over the lowered text
- no stemming, no stopword removal (block-max WAND handles hot terms)
- ``term_id = xxhash64(token)`` (Spark seed 42); collisions accepted
  identically on both sides
- ``doclen`` = token count

The build applies ``TOKEN_RE`` in one Arrow-batched pandas UDF
(``index.build.tokenize_doc_udf``; the BASELINE.json input_hint mandates no
per-row Python in the Spark plan); the functions here are the driver-side
query path and the oracle's.
"""

from __future__ import annotations

import re

from statschat_ke_spark.functions.hashing import xxhash64_str

TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """Single-string tokenizer (driver/query side + oracle)."""
    return TOKEN_RE.findall(text.lower())


def term_ids(tokens: list[str]) -> list[int]:
    """Distinct query-term ids in appearance order (driver side) — the
    canonical per-doc summation order (see query._wand_groups) the oracle
    also uses."""
    return [xxhash64_str(t) for t in dict.fromkeys(tokens)]
