"""Seeded question streams with a fixed mix of query shapes.

Every question uses only terms from ``POOL_TERMS`` (which the checker
indexes) or out-of-vocabulary words (which no document contains), so the
exact scorer in ``checker.py`` can answer any question a seed produces.
"""

from __future__ import annotations

import numpy as np

from statschat_ke_spark.corpus import vocabulary

VOCAB_SIZE = 30_000  # spark_documents_distributed's default vocabulary

_VOCAB = vocabulary(VOCAB_SIZE)
# Zipf ranks. The 12 head terms sit in almost every document, so questions
# built from them decode almost every posting block. Each band is narrow so
# that questions of one shape cost about the same whatever the seed picks.
COMMON = _VOCAB[:12]
MID = _VOCAB[100:200]
RARE = [
    _VOCAB[i]
    for i in sorted(np.random.default_rng(20_240).choice(
        np.arange(3_000, VOCAB_SIZE), size=400, replace=False))
]
POOL_TERMS = COMMON + MID + RARE
OOV_PREFIX = "zq"  # no vocabulary word, title or nav token starts with it

# One cycle holds one question of each shape, so every complete cycle keeps
# the mix fixed whatever the seed or the number of cycles run.
KINDS = ("common", "selective", "duplicate", "long", "zero_hit")


def _pick(rng, words, n):
    return [words[i] for i in rng.choice(len(words), size=n, replace=False)]


def _question(rng, kind: str) -> str:
    if kind == "common":
        words = _pick(rng, COMMON, 3)
    elif kind == "selective":  # one rare term: WAND skips most blocks
        words = _pick(rng, RARE, 1) + _pick(rng, COMMON, 2)
    elif kind == "duplicate":
        a, b = _pick(rng, MID, 1) + _pick(rng, COMMON, 1)
        words = [a, b, a.upper()]
    elif kind == "long":
        words = _pick(rng, COMMON, 4) + _pick(rng, MID, 6) + _pick(rng, RARE, 2)
    elif kind == "zero_hit":
        letters = "abcdefghijklmnopqrstuvwxyz"
        words = [
            OOV_PREFIX + "".join(rng.choice(list(letters), size=6))
            for _ in range(2)
        ]
    else:
        raise ValueError(f"unknown question kind {kind!r}")
    rng.shuffle(words)
    return " ".join(words) + "?"


class QuestionStream:
    """Distinct questions from one seed, one shuffled cycle of KINDS at a
    time. ``stream`` separates uses of one seed (warm-up, timed, batch) so
    their questions are disjoint."""

    def __init__(self, seed: int, stream: int):
        self._rng = np.random.default_rng([seed, stream])
        self.seen: set[str] = set()

    def cycle(self) -> list[tuple[str, str]]:
        kinds = list(KINDS)
        self._rng.shuffle(kinds)
        out = []
        for kind in kinds:
            q = _question(self._rng, kind)
            while q in self.seen:
                q = _question(self._rng, kind)
            self.seen.add(q)
            out.append((kind, q))
        return out

    def take(self, n: int) -> list[tuple[str, str]]:
        out: list[tuple[str, str]] = []
        while len(out) < n:
            out.extend(self.cycle())
        return out[:n]

    def exclude(self, questions) -> None:
        self.seen.update(questions)
