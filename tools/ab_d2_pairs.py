"""Interleaved A/B for d2's pair pipeline (minhash_lsh_pairs) variants.

Profiling at sf10 put the cost at: verify joins
~50% (two SMJs sorting the 17M-row candidate frame to attach ~52-element
shingle arrays), candidate self-join + distinct ~25%, signatures ~25%.
Variants (all produce the IDENTICAL verified pair set — asserted first):

  v0  current minhash_lsh_pairs
  v1  v0 + SHUFFLE_HASH hint on the two verify joins (guide §3.1: build
      side per partition is tiny; SMJ sorts 17M rows twice for nothing)
  v2  v1 + candidate generation via groupBy(_band).collect_list +
      sorted-suffix explode instead of the self-join (guide §2.4: one
      exchange of the 8M-row band frame instead of an exchanged+sorted
      SMJ; singleton buckets die in the aggregate)
  v3  v2 + scale-adaptive candidate repartition (n_docs-derived, not
      the constant defaultParallelism)

Usage: python tools/ab_d2_pairs.py <sf_dir> [reps] [variants...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 4
ONLY = set(sys.argv[3:])


def pairs_variant(spark, docs, variant: str, tau: float = 0.25):
    from pyspark.sql import functions as F

    from parquet_common_spark.operators import dedup as D

    r = D.MINHASH_K // D.MINHASH_BANDS
    sigs = D._signatures_arrow(docs, "doc_id", "text").persist()
    n_docs = sigs.count()
    bands = sigs.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(j),
                        *[F.element_at(F.col("_sig"), j * r + k + 1) for k in range(r)],
                    )
                    for j in range(D.MINHASH_BANDS)
                ]
            )
        ).alias("_band"),
    )
    if variant in ("v2", "v3"):
        mem = F.sort_array(F.collect_list("_id"))
        grouped = (
            bands.groupBy("_band")
            .agg(mem.alias("_mem"))
            .where(F.size("_mem") >= 2)
        )
        cand = (
            grouped.select(F.posexplode("_mem").alias("_i", "id_a"), "_mem")
            .select(
                "id_a",
                F.explode(
                    F.slice(F.col("_mem"), F.col("_i") + 2, F.size("_mem"))
                ).alias("id_b"),
            )
            .distinct()
        )
    else:
        cand = (
            bands.alias("a")
            .join(bands.alias("b"), "_band")
            .where(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .distinct()
        )
    if variant == "v3":
        # ~4k candidate-side rows per partition-task at observed pair
        # densities; floors at the session parallelism
        n_part = max(
            docs.sparkSession.sparkContext.defaultParallelism, n_docs // 4000
        )
    else:
        n_part = docs.sparkSession.sparkContext.defaultParallelism
    cand = cand.repartition(n_part, "id_a", "id_b")
    hashes = sigs.select("_id", "_sh")
    if variant in ("v1", "v2", "v3"):
        hashes = hashes.hint("shuffle_hash")
    return (
        cand.join(
            hashes.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
        )
        .join(
            hashes.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b"
        )
        .withColumn("jac", D.jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jac") >= tau)
        .select("id_a", "id_b", F.round("jac", 6).alias("jaccard"))
    ), sigs


def main() -> None:
    from parquet_common_spark.session import get_spark
    from parquet_common_spark.plans.common import load
    from parquet_common_spark.operators import dedup as D

    spark = get_spark("ab_d2")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load(spark, SF_DIR, "documents")["documents"]

    variants = [v for v in ("v0", "v1", "v2", "v3") if not ONLY or v in ONLY]

    # ---- equality gate (pair set must be bit-identical to v0/current)
    base = sorted(
        map(tuple, D.minhash_lsh_pairs(docs, "doc_id", "text", tau=0.25).collect())
    )
    spark.catalog.clearCache()
    for v in variants:
        df, sigs = pairs_variant(spark, docs, v)
        got = sorted(map(tuple, df.collect()))
        sigs.unpersist()
        assert got == base, f"{v}: pair set differs ({len(got)} vs {len(base)})"
        print(f"{v}: equality OK ({len(got)} pairs)")

    # ---- interleaved timing (each trial includes the full pipeline:
    # signatures + bands + candidates + verify; persist dropped after)
    times: dict[str, list[float]] = {v: [] for v in variants}
    for rep in range(REPS):
        for v in variants:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df, sigs = pairs_variant(spark, docs, v)
            n = df.count()
            times[v].append(round(time.perf_counter() - t0, 3))
            sigs.unpersist()
    def med(xs):
        s = sorted(xs)
        return s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2

    for v, xs in times.items():
        print(f"{v}: min={min(xs):.3f} med={med(xs):.3f} {xs}")


if __name__ == "__main__":
    main()
