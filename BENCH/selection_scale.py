"""Scale evidence for the round-5 selection operators at 1M rows:
DSIR importance resampling and SemDeDup semantic dedup.

DSIR leg: the shared synthetic corpus (bench.synthetic_docs) has a 5%
planted junk stratum (all-digit tokens — a lexically distinct
"domain"). Target = 1,000 junk docs (doc_id % 1000 == 995). DSIR must
rank junk docs as most target-like, so a top-10,000 select should be
~all junk — the planted-recall check.

SemDeDup leg: 1M hash-derived dim-16 vectors; vec_id % 100 == 1 copies
its predecessor's vector exactly (10,000 planted exact duplicates —
cosine 1.0, same cluster by construction). n_lists = 4096 (~sqrt-N
regime: mean cluster ~244, so the within-cluster pair work stays
near-linear), assign="udf", pairs="local" (one Arrow matmul per batch
and per-cluster BLAS dominance — the large-n_lists path). Expected
drops = the 10,000 planted copies (ties keep the lower id) plus a
handful of chance cos>=0.95 pairs in dim 16.

Usage: python BENCH/selection_scale.py [n=1000000]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import synthetic_docs
from streetview_naturevisibility_spark.operators.similarity import semantic_dedup
from streetview_naturevisibility_spark.operators.textops import dsir_select
from streetview_naturevisibility_spark.session import get_spark


def synthetic_embeddings(spark, n: int, partitions: int, dim: int = 16):
    """Deterministic distributed embeddings: components hash-derived in
    [-1, 1]; vec_id % 100 == 1 duplicates the predecessor exactly."""
    base = F.col("id") - (F.col("id") % 100 == 1).cast("long")
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            (F.pmod(F.xxhash64(base * F.lit(31) + i), F.lit(2_000_001)) - F.lit(1_000_000))
            / F.lit(1_000_000.0)
        ),
    )
    return (
        spark.range(0, n, 1, partitions)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    legs = set(
        (sys.argv[2] if len(sys.argv) > 2 else "dsir,clf,semdedup_local")
        .split(",")
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    results = {}

    docs = synthetic_docs(spark, n, cpus * 2)

    # --- DSIR ---
    if "dsir" in legs:
        target = docs.where(F.col("doc_id") % 1000 == 995).select("text")
        keep_n = 10_000
        t0 = time.perf_counter()
        sel = dsir_select(docs, target, n=keep_n, n_buckets=10_000)
        r = sel.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("doc_id") % 100 >= 95).cast("long")).alias("junk"),
        ).collect()[0]
        results["dsir_select"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "kept": r.n,
            "kept_from_target_domain": int(r.junk),
        }
        print("LEG " + json.dumps({"dsir_select": results["dsir_select"]}), flush=True)

    # --- quality classifier scoring (trained on normal-vs-junk) ---
    if "clf" in legs:
        from streetview_naturevisibility_spark.operators.textops import (
            score_quality_classifier,
            train_quality_classifier,
        )

        pos_rows = [
            r.text
            for r in docs.where(
                (F.col("doc_id") % 100 < 95) & (F.col("doc_id") % 100 != 1)
            ).limit(2000).collect()
        ]  # normal docs as "reference"
        neg_rows = [
            r.text
            for r in docs.where(F.col("doc_id") % 100 >= 95).limit(2000).collect()
        ]  # junk docs
        w, bias = train_quality_classifier(pos_rows, neg_rows)
        t0 = time.perf_counter()
        cp = score_quality_classifier(docs, w, bias)
        j = cp.join(
            docs.select("doc_id", (F.col("doc_id") % 100 >= 95).alias("_junk")),
            ["doc_id"],
        )
        r = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(((F.col("clf_prob") >= 0.5) & ~F.col("_junk")).cast("long")).alias(
                "normal_kept"
            ),
            F.sum(((F.col("clf_prob") >= 0.5) & F.col("_junk")).cast("long")).alias(
                "junk_kept"
            ),
            F.sum((~F.col("_junk")).cast("long")).alias("normal_total"),
            F.sum(F.col("_junk").cast("long")).alias("junk_total"),
        ).collect()[0]
        results["clf_score"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "rows": r.n,
            "normal_kept": int(r.normal_kept),
            "normal_total": int(r.normal_total),
            "junk_kept": int(r.junk_kept),
            "junk_total": int(r.junk_total),
        }
        print("LEG " + json.dumps({"clf_score": results["clf_score"]}), flush=True)

    # --- sequence packing (2048-token training rows) ---
    if "pack" in legs:
        from streetview_naturevisibility_spark.operators.corpus import (
            pack_assignments,
        )

        t0 = time.perf_counter()
        pa = pack_assignments(docs, budget_tokens=2048, bucket_span=100_000)
        r = pa.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("bin_id").alias("bins"),
            F.sum("n_tokens").alias("tok"),
        ).collect()[0]
        results["pack_assignments"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "rows": r.n,
            "bins": int(r.bins),
            "total_tokens": int(r.tok),
            "expected_bins_ceil": -(-int(r.tok) // 2048),
        }
        print(
            "LEG " + json.dumps({"pack_assignments": results["pack_assignments"]}),
            flush=True,
        )

    # --- SemDeDup ---
    emb = synthetic_embeddings(spark, n, cpus * 2)
    if "semdedup_local" in legs:
        t0 = time.perf_counter()
        sdl = semantic_dedup(
            emb,
            threshold=0.95,
            n_lists=4096,
            dim=16,
            assign="udf",
            pairs="local",
            max_cluster=100_000,
        )
        r = sdl.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("kept")).cast("long")).alias("dropped"),
            F.sum(((~F.col("kept")) & (F.col("vec_id") % 100 == 1)).cast("long")).alias(
                "dropped_planted"
            ),
        ).collect()[0]
        results["semantic_dedup_local"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "rows": r.n,
            "dropped": int(r.dropped),
            "dropped_planted": int(r.dropped_planted),
        }
        print(
            "LEG "
            + json.dumps({"semantic_dedup_local": results["semantic_dedup_local"]}),
            flush=True,
        )

    print(json.dumps({"n": n, "cpus": cpus, "results": results}))


if __name__ == "__main__":
    main()
