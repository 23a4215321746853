"""Query-path A/B across slice layouts: is the 8× 16-query wall gap the
skew sweep recorded (71.3 s at slice_bits=6 vs 9.2 s at 8 on the 9M-doc
corpus, BENCH_SKEW.json) a real property of finer slices, or window noise?

BENCH_SKEW measured each layout's query wall ONCE, in separate sessions,
right after that layout's build — the 6-bit level also ran first, straight
after corpus generation (cold caches). This script controls for all of
that: both indexes are built first (fresh session each, same corpus, same
P_pack), then ONE fresh session runs the identical 16-query `topk_batch`
against the two layouts in interleaved repeats (A/B/A/B...), so both
layouts sample the same host windows and the same page-cache state. Best
and all reps are reported per layout.

Usage:
    python scripts/bench_skew_query.py [--n-docs 10000000] [--bits 6,8]
                                       [--reps 3] [--out BENCH_SKEW_QUERY.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from bench_skew import QUERIES, _ensure_corpus, _session  # noqa: E402


def _en_docs(input_dir: str) -> int:
    """Docs build_index keeps from the corpus (its default lang="en")."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    lang = pq.read_table(input_dir, columns=["lang"]).column("lang")
    return int(pc.sum(pc.equal(lang, "en")).as_py() or 0)


def build(input_dir: str, bits: int, cpus: int) -> str:
    from statschat_ke_spark.index.build import build_index, committed_record

    idx = os.path.join(tempfile.gettempdir(), f"statschat_skewq_idx_{bits}")
    # reuse only a committed index of this engine's format built from this
    # corpus; anything else (other --n-docs, older format) is rebuilt
    rec = committed_record(idx)
    if rec is not None and rec["n_docs"] == _en_docs(input_dir):
        return idx
    shutil.rmtree(idx, ignore_errors=True)
    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.time()
        build_index(spark, input_dir, idx, slice_bits=bits)
        print(f"built bits={bits} in {time.time() - t0:.1f}s", flush=True)
    finally:
        spark.stop()
    return idx


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=10_000_000)
    ap.add_argument("--bits", type=str, default="6,8")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", type=str,
                    default=os.path.join(REPO, "BENCH_SKEW_QUERY.json"))
    args = ap.parse_args()

    bits = [int(b) for b in args.bits.split(",")]
    input_dir = _ensure_corpus(args.n_docs)
    idxs = {b: build(input_dir, b, args.cpus) for b in bits}

    from statschat_ke_spark.index.query import topk_batch

    spark = _session(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    walls: dict[int, list] = {b: [] for b in bits}
    shas: dict[int, set] = {b: set() for b in bits}
    try:
        # one untimed warmup against each index (JVM/codegen/Arrow spin-up,
        # lexicon probe cache priming happens per commit-uuid anyway)
        for b in bits:
            topk_batch(spark, idxs[b], {0: QUERIES[0]}, k=10).collect()
        for r in range(args.reps):
            for b in bits:  # interleaved: both layouts see the same windows
                t0 = time.time()
                rows = topk_batch(
                    spark, idxs[b], dict(enumerate(QUERIES)), k=10
                ).collect()
                walls[b].append(round(time.time() - t0, 3))
                canon = "\n".join(
                    f"{x.query_id},{x.rank},{x.doc_id},{x.score:.6f}"
                    for x in sorted(rows, key=lambda x: (x.query_id, x.rank))
                )
                shas[b].add(hashlib.sha256(canon.encode()).hexdigest())
                print(f"rep {r + 1} bits={b}: {walls[b][-1]}s", flush=True)
    finally:
        spark.stop()

    all_shas = set().union(*shas.values())
    out = {
        "bench": "query_wall_vs_slice_bits",
        "protocol": (
            "both indexes prebuilt on the same corpus/P_pack; ONE session "
            "runs the 16-query topk_batch interleaved A/B x reps with an "
            "untimed warmup per index; best + all reps per layout"
        ),
        "n_docs_requested": args.n_docs,
        "levels": [
            {
                "slice_bits": b,
                "query_wall_s_best": min(walls[b]),
                "query_wall_s_all": walls[b],
                "s_per_query_best": round(min(walls[b]) / len(QUERIES), 4),
            }
            for b in bits
        ],
        "rank_identity_across_layouts_and_reps": len(all_shas) == 1,
        "sha256": sorted(all_shas),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps(out["levels"]))


if __name__ == "__main__":
    main()
