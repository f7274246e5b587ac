#!/usr/bin/env python3
"""Skewed-embeddings crossover benchmark for the adaptive LSH salting.

BENCH_r02 showed q_ann_lsh_topk +59% at toy scale (sf0.1, near-uniform
buckets) after the r2 adaptive-salting guard landed — the expected cost
of an extra count-agg + broadcast. This benchmark measures the case the
guard exists FOR: a hot-bucket distribution (~80% of vectors in 3
clusters) at 10x sf0.1, comparing the plain within-bucket self-join
(guard disabled via an infinite hot threshold) against the salted one.
Writes BENCH/skew_crossover.json.

Output pairs are asserted identical between both paths first.
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from pdfio_spark.pipeline.session import get_spark  # noqa: E402
from pdfio_spark.pipeline.queries import (_bucket_expr,  # noqa: E402
                                          _salted_bucket_pairs)

N_VECS = int(os.environ.get("SKEW_N_VECS", "6000"))
DIM = 64
HOT_FRAC = 0.8
N_CLUSTERS = 3


def gen_skewed(spark):
    rng = np.random.RandomState(42)
    bases = rng.randn(N_CLUSTERS, DIM).astype(np.float64)
    n_hot = int(N_VECS * HOT_FRAC)
    rows = []
    for i in range(N_VECS):
        if i < n_hot:
            v = bases[i % N_CLUSTERS] + 0.05 * rng.randn(DIM)
        else:
            v = rng.randn(DIM)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def topk(b, hot_threshold):
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("c.embedding"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    nrm = lambda c: F.sqrt(F.aggregate(
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    sim = F.round(dot / (nrm(F.col("a.embedding"))
                         * nrm(F.col("c.embedding"))), 6)
    pairs = (_salted_bucket_pairs(b, lambda a, c: a != c,
                                  hot_threshold=hot_threshold)
             .select(F.col("a.vec_id").alias("vec_id"),
                     F.col("c.vec_id").alias("nn_id"),
                     sim.alias("cos_sim")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"),
                                             F.asc("nn_id"))
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3))


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus=cpus, app="skew_crossover")
    spark.sparkContext.setLogLevel("ERROR")
    path = "/tmp/skew_emb"
    gen_skewed(spark).repartition(cpus).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    b = emb.select("vec_id", "embedding",
                   _bucket_expr(F.col("embedding")).alias("bucket")).cache()
    b.count()
    stats = (b.groupBy("bucket").count()
             .orderBy(F.desc("count")).limit(5).collect())
    print("top buckets:", [(r["bucket"], r["count"]) for r in stats])

    # identical output check (cheap columns only); skippable for pure
    # timing runs once validated at a given input (SKEW_CHECK=0)
    checked = os.environ.get("SKEW_CHECK", "1") == "1"
    if checked:
        plain_set = {(r[0], r[1]) for r in
                     topk(b, hot_threshold=1 << 62).select(
                         "vec_id", "nn_id").collect()}
        salted_set = {(r[0], r[1]) for r in
                      topk(b, hot_threshold=1000).select(
                          "vec_id", "nn_id").collect()}
        assert plain_set == salted_set, "salting changed the output!"

    # Three configs: the unprotected join (AQE skew-split disabled),
    # the plain join under AQE's OptimizeSkewedJoin, and the explicit
    # adaptive salting. Locally AQE already splits skewed SMJ
    # partitions (both sides of a self-join), so salting's value shows
    # against the UNPROTECTED baseline; the explicit salt remains the
    # defense for plans AQE cannot touch (see BENCH/BASELINE.md).
    # At 10^9 vectors neither join side broadcasts, so the pair join is
    # a sort-merge join — the plan where a hot bucket becomes one n^2
    # task. Locally Spark would broadcast the toy-sized side (probe rows
    # then round-robin and key skew never forms stragglers), hiding the
    # effect; disable auto-broadcast to measure the at-scale plan.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    results = {}
    for label, thr, aqe_skew in (
            ("plain_no_aqe_skew", 1 << 62, "false"),
            ("plain_aqe", 1 << 62, "true"),
            ("salted", 1000, "true")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe_skew)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            topk(b, hot_threshold=thr).write.format("noop") \
                .mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[label] = round(best, 3)
        print(label, results[label], "s")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    out = {
        "n_vectors": N_VECS,
        "hot_fraction": HOT_FRAC,
        "n_clusters": N_CLUSTERS,
        "top_buckets": [(r["bucket"], r["count"]) for r in stats],
        **{k + "_sec": v for k, v in results.items()},
        "salted_speedup_vs_unprotected": round(
            results["plain_no_aqe_skew"] / results["salted"], 2),
        "salted_vs_aqe": round(
            results["plain_aqe"] / results["salted"], 2),
        "cpus": cpus,
        "output_identical": checked,
    }
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", "skew_crossover.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
