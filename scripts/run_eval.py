"""Golden-question evaluation pipeline (SURVEY.md §3.3).

The Spark re-expression of the reference's evaluation harness
(/root/reference/statschat/model_evaluation/evaluation.py:250-326): run the
fixture query set through the real engine, join results against golden
expectations AS A DISTRIBUTED JOB (operators/evaluation.py), and emit the
mean-metrics JSON the reference writes per run.

    python scripts/run_eval.py [--n-docs 1000] [--out eval_metrics.json]

Expected on the deterministic fixture corpus: mean_reciprocal_rank = 1.0 and
top1_accuracy = 1.0 over the positive queries (the engine's top-1 equals the
numpy oracle's top-1 by the rank-identity contract), 0 results for the
negative queries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=1000)
    ap.add_argument("--out", type=str, default=os.path.join(REPO, "eval_metrics.json"))
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--driver-mem", type=str, default="8g",
                    help="driver JVM heap — the corpus staging write and the "
                         "k-row collects are the only driver-side data, but "
                         "a 1M-doc run still wants headroom")
    args = ap.parse_args()

    from pyspark.sql import Row, SparkSession, functions as F

    from statschat_ke_spark.corpus import QUERIES, generate_documents
    from statschat_ke_spark.index.build import build_index
    from statschat_ke_spark.index.oracle import OracleIndex
    from statschat_ke_spark.index.query import topk_batch
    from statschat_ke_spark.operators.evaluation import evaluate_retrieval, mean_metrics

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("statschat_eval")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # The phrase-planted corpus only exists in the pandas generator (the
    # distributed one plants nothing), so large-n runs stage it to parquet
    # with pyarrow — the index build then reads a parquet PATH instead of
    # shipping a multi-GB pandas frame through createDataFrame, and a rerun
    # at the same n reuses both the staged corpus and the index.
    pdf = generate_documents(args.n_docs)
    stage = os.path.join(
        tempfile.gettempdir(), f"statschat_eval_corpus_{args.n_docs}.parquet"
    )
    if not os.path.exists(stage):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = stage + ".tmp"
        pq.write_table(
            pa.Table.from_pandas(
                pdf[["url", "warc_ts", "html", "text", "lang"]],
                preserve_index=False,
            ),
            tmp,
            # pandas datetime64[ns] would write TIMESTAMP(NANOS), which the
            # Spark parquet reader rejects — store microseconds
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.replace(tmp, stage)
    docs = spark.read.parquet(stage)
    idx = os.path.join(tempfile.gettempdir(), f"statschat_eval_idx_{args.n_docs}")
    if not os.path.exists(os.path.join(idx, "_SUCCESS.json")):
        build_index(spark, docs.drop("text"), idx)

    oracle = OracleIndex(pdf)
    text_by_url = dict(zip(pdf["url"], pdf["text"]))
    from statschat_ke_spark.functions.hashing import xxhash64_str

    url_by_doc_id = {xxhash64_str(u): u for u in pdf["url"]}

    # the whole golden set in ONE postings scan; each question's top-q.k is
    # the rank <= q.k prefix of the batch's top-max(k)
    t0 = time.time()
    got = topk_batch(
        spark, idx, {q.query_id: q.query_text for q in QUERIES},
        k=max(q.k for q in QUERIES),
    ).collect()
    batch_seconds = round(time.time() - t0, 3)
    k_by_q = {q.query_id: q.k for q in QUERIES}
    r_rows = []
    for row in got:
        if row.rank <= k_by_q[row.query_id]:
            url = url_by_doc_id[int(row.doc_id)]
            r_rows.append(
                Row(query_id=int(row.query_id), rank=int(row.rank), url=url,
                    text=text_by_url.get(url, ""))
            )
    q_rows = []
    for q in QUERIES:
        # golden expectation from the independent numpy ORACLE, not the engine
        golden = oracle.topk(q.query_text, q.k)
        expected_url = (
            url_by_doc_id[int(golden.doc_id.iloc[0])]
            if (q.phrase and len(golden))
            else "<none>"
        )
        q_rows.append(
            Row(
                query_id=q.query_id,
                expected_url=expected_url,
                expected_keywords=(q.phrase.split() if q.phrase else []),
                should_answer=q.phrase is not None,
            )
        )

    questions = spark.createDataFrame(q_rows)
    results = spark.createDataFrame(r_rows) if r_rows else spark.createDataFrame(
        [], "query_id int, rank int, url string, text string"
    )

    per_q = evaluate_retrieval(questions, results)
    pos = per_q.join(
        questions.select("query_id", "should_answer"), "query_id"
    ).filter(F.col("should_answer"))
    metrics = mean_metrics(pos).collect()[0].asDict()
    neg_hit = (
        per_q.join(questions.select("query_id", "should_answer"), "query_id")
        .filter(~F.col("should_answer") & (F.col("reciprocal_rank") > 0))
        .count()
    )
    out = {
        **{k: float(v) for k, v in metrics.items()},
        "negative_queries_with_hits": int(neg_hit),
        "n_questions": len(QUERIES),
        "n_docs": args.n_docs,
        "cpus": args.cpus,
        "batch_seconds": batch_seconds,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
