"""Batched-hybrid evidence: Q hybrid queries as Q sequential query_hybrid
calls vs ONE query_hybrid_batch job, on the scan path and the fully-indexed
path (text postings + IVF — no channel scans the corpus).

The batched lexical channel's cost is one corpus tokenize (or one pruned
postings read) REGARDLESS of Q, so the expected shape is: sequential grows
~linearly with Q while batch stays near the single-query cost.  Numbers go
to BASELINE.md.

Usage: python tools/hybrid_batch_bench.py [Q] [sf_dir]

The session comes from ``session.get_spark``, so parallelism follows
``SPARK_GRAFT_CPUS`` (default: all cores) and the driver heap
``SPARK_DRIVER_MEM``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

Q = int(sys.argv[1]) if len(sys.argv) > 1 else 16
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.session import get_spark

    spark = get_spark("hybrid_batch_bench")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.lower("text").alias("text")
    )
    db = VectorDB(
        spark,
        "hbb",
        embedding_dim=32,
        create_new_table=True,
        warehouse=tempfile.mkdtemp(prefix="hbb_"),
    )
    db.insert_df(
        docs.select(F.to_json(F.struct("doc_id", "text")).alias("metadata")),
        embed_field="text",
    )
    db.create_text_index(buckets=16)
    db.create_index(num_clusters=8)
    n = db.num_rows()

    # query texts drawn from the corpus so BM25 has real matches (NULL
    # texts skipped; report the ACTUAL query count, not the requested one)
    seeds = [
        r["text"]
        for r in docs.filter(F.col("text").isNotNull()).limit(Q).collect()
    ]
    queries = [" ".join(t.split()[:4]) or "data" for t in seeds]
    if not queries:
        raise SystemExit("corpus has no non-null text rows")

    def timed(fn):
        fn()  # warm (plans compile, code-gen caches)
        t0 = time.monotonic()
        fn()
        return round(time.monotonic() - t0, 3)

    out = {"q": len(queries), "rows": n, "sf_dir": SF_DIR}

    def seq(**kw):
        return lambda: [db.query_hybrid(q, k=10, **kw) for q in queries]

    def bat(**kw):
        return lambda: db.query_hybrid_batch(queries, k=10, **kw).collect()

    out["seq_scan_sec"] = timed(seq())
    out["batch_scan_sec"] = timed(bat())
    out["seq_indexed_sec"] = timed(seq(use_text_index=True, use_index=True, nprobe=4))
    out["batch_indexed_sec"] = timed(bat(use_text_index=True, use_index=True, nprobe=4))
    out["scan_speedup"] = round(out["seq_scan_sec"] / max(out["batch_scan_sec"], 1e-9), 1)
    out["indexed_speedup"] = round(
        out["seq_indexed_sec"] / max(out["batch_indexed_sec"], 1e-9), 1
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
