"""Retrieval-latency harness — parity with the reference's evaluation run
(back/kgg/test/test2.py:371-432: 100 templated queries, k=5, single process,
latency avg/min/max/p95 and q/s, printed not recorded).

Two modes over the same built graph:

- ``sequential`` — one :func:`retrieve_documents` plan per query, the
  reference's per-query loop shape (its FAISS index answers one query at a
  time). This is the apples-to-apples latency comparison.
- ``batch`` — ALL queries through :func:`retrieve_documents_batch` as one
  plan (one Arrow embed pass, one (table, bucket) LSH probe join, query-keyed
  batched PPR). This is the shape a Spark deployment actually serves offline
  eval sets with; per-query cost amortizes with batch size, which the
  reference's serial loop cannot do.

Usage:
    python tools/retrieval_bench.py [--sf-dir /root/testdata/sf0.01]
        [--n-queries 100] [--k 5] [--mode both|sequential|batch]

Prints ONE JSON line:
    {"metric": "retrieval_latency", "n_queries": ..., "k": ...,
     "sequential": {"avg_s": ..., "min_s": ..., "max_s": ..., "p95_s": ...,
                    "qps": ...},
     "batch": {"wall_s": ..., "qps": ...}}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the reference templates its eval queries over entity/topic slots; we do the
# same over the synthetic corpus vocabulary (tests/conftest.py VOCAB)
_TEMPLATES = [
    "which {a} {b} uses spark",
    "how does the {a} relate to the {b}",
    "find documents about {a} and {b}",
    "what {a} depends on the {b} table",
    "explain the {a} {b} pipeline",
]
_SLOTS = ["customer", "stream", "vector", "table", "query", "window",
          "partition", "join", "filter", "order", "batch", "merge"]


def templated_queries(n: int) -> list[str]:
    out = []
    for i in range(n):
        t = _TEMPLATES[i % len(_TEMPLATES)]
        a = _SLOTS[i % len(_SLOTS)]
        b = _SLOTS[(i * 7 + 3) % len(_SLOTS)]
        out.append(t.format(a=a, b=b))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--n-queries", type=int, default=100)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--mode", default="both",
                    choices=["both", "sequential", "batch"])
    ap.add_argument("--parallelism", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from pyspark.sql import functions as F  # noqa: F401

    from knowledgegraphbuilder_spark.config import KGConfig
    from knowledgegraphbuilder_spark.operators.retrieval import (
        index_edges, retrieve_documents, retrieve_documents_batch,
    )
    from knowledgegraphbuilder_spark.plans.checkpoint import run_pipeline
    from knowledgegraphbuilder_spark.session import build_session
    from knowledgegraphbuilder_spark.sources.interleaved import (
        read_documents_parquet,
    )

    spark = build_session("kg-retrieval-bench", parallelism=args.parallelism,
                          shuffle_partitions=max(args.parallelism, 8))
    cfg = KGConfig()
    res = run_pipeline(read_documents_parquet(spark, args.sf_dir), cfg,
                       materialize="ckpt")
    idx = index_edges(res.edges, cfg.embedding_dim).localCheckpoint(eager=True)
    edges = res.edges.localCheckpoint(eager=True)
    membership = res.membership.localCheckpoint(eager=True)
    queries = templated_queries(args.n_queries)

    out: dict = {"metric": "retrieval_latency", "n_queries": args.n_queries,
                 "k": args.k, "sf_dir": args.sf_dir}

    if args.mode in ("both", "sequential"):
        # JIT/plan warm-up (excluded, same methodology as bench.py)
        retrieve_documents(edges, membership, idx, queries[0], cfg,
                           k=args.k).collect()
        lat = []
        for q in queries:
            t0 = time.time()
            retrieve_documents(edges, membership, idx, q, cfg,
                               k=args.k).collect()
            lat.append(time.time() - t0)
        lat_sorted = sorted(lat)
        out["sequential"] = {
            "avg_s": round(sum(lat) / len(lat), 4),
            "min_s": round(lat_sorted[0], 4),
            "max_s": round(lat_sorted[-1], 4),
            "p95_s": round(lat_sorted[min(len(lat) - 1,
                                          int(0.95 * len(lat)))], 4),
            "qps": round(len(lat) / sum(lat), 3),
        }

    if args.mode in ("both", "batch"):
        qdf = spark.createDataFrame(
            [(i, q) for i, q in enumerate(queries)],
            "query_id long, query_text string",
        )
        retrieve_documents_batch(edges, membership, idx, qdf.limit(2), cfg,
                                 k=args.k).collect()  # warm-up
        t0 = time.time()
        n_rows = retrieve_documents_batch(edges, membership, idx, qdf, cfg,
                                          k=args.k).count()
        wall = time.time() - t0
        out["batch"] = {"wall_s": round(wall, 3),
                        "qps": round(args.n_queries / wall, 3),
                        "rows": n_rows}

    print(json.dumps(out))


if __name__ == "__main__":
    main()
