"""Embedding-family decade probe — the committed rig behind SCALING.md's
embedding sections (previous rounds ran these as ad-hoc snippets; VERDICT r6
items #2-3 ask for repeatable numbers, so the rig is now in-repo).

    python tools/embedding_probe.py FIXTURE_DIR OP [--k N] [--n-lists N]
           [--mod N] [--repeats N] [--sp N]

OPs (knobs follow the SCALING.md protocol — k grows with n so cluster size
stays ~constant; n_lists grows ~sqrt-ish):
    kmeans2          kmeans_two_level(k)
    semdedup_scaled  semdedup_pairs_scaled(k) — clustering + pairing
    brute            brute_force_topk, 10 query vectors
    ivfpq_sampled    ivfpq_build_index(train_sample_mod=mod) forced to the
                     searchable state, then a 10-query two-stage serve —
                     the 100 TB build recipe (training bounded by the
                     sample; corpus touched exactly twice)

Each repeat is a FRESH process start only if the caller loops this script
(process isolation is the caller's choice — SCALING.md's sf100 protocol);
within one invocation repeats share the session and report min/med/max.
Prints one JSON line: {"op", "fixture", "n_vecs", "knobs", "runs": [sec..],
"min", "med", "max"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("fixture")
    ap.add_argument("op", choices=["kmeans2", "semdedup_scaled", "brute", "ivfpq_sampled"])
    ap.add_argument("--k", type=int, default=64)
    ap.add_argument("--n-lists", type=int, default=80)
    ap.add_argument("--mod", type=int, default=100)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--sp", type=int, default=32, help="shuffle partitions")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from european_emissions_data_warehouse_spark.session import get_session

    spark = get_session(
        app_name=f"emb-probe-{args.op}",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=args.sp,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")

    from european_emissions_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_build_index,
        ivfpq_search,
        kmeans_two_level,
        semdedup_pairs_scaled,
    )

    emb = spark.read.parquet(f"{args.fixture}/embeddings.parquet")
    n_vecs = emb.count()  # also warms the JVM/codegen before the timed runs

    def run_once() -> float:
        t0 = time.perf_counter()
        if args.op == "kmeans2":
            out = kmeans_two_level(emb, "vec_id", "embedding", k=args.k, n_iters=1)
        elif args.op == "semdedup_scaled":
            out = semdedup_pairs_scaled(emb, "vec_id", "embedding", k=args.k, n_iters=1)
        elif args.op == "brute":
            out = brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
        else:  # ivfpq_sampled: build to searchable state + 10-query serve
            index, coarse = ivfpq_build_index(
                emb, dim=64, n_centroids=args.n_lists, m=4, pq_k=16,
                train_sample_mod=args.mod,
            )
            index.write.format("noop").mode("overwrite").save()
            out = ivfpq_search(
                emb.filter(F.col("vec_id") < 10), index, coarse,
                k=5, n_probe=3, rerank=100, raw_vectors=emb,
            )
        out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    runs = sorted(round(run_once(), 3) for _ in range(max(1, args.repeats)))
    med = runs[len(runs) // 2] if len(runs) % 2 else (
        (runs[len(runs) // 2 - 1] + runs[len(runs) // 2]) / 2
    )
    print(json.dumps({
        "op": args.op,
        "fixture": args.fixture,
        "n_vecs": n_vecs,
        "knobs": {"k": args.k, "n_lists": args.n_lists, "mod": args.mod,
                  "sp": args.sp},
        "runs": runs,
        "min": runs[0],
        "med": round(med, 3),
        "max": runs[-1],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
