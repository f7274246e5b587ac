#!/usr/bin/env python3
"""Sustained-throughput soak (the BASELINE.md protocol, now pinned as
a script): materialize an N-doc corpus to parquet, then time the
extraction stage alone reading from that parquet — corpus synthesis is
excluded, exactly like a production run over an existing crawl table.

Usage: python3 tools/soak.py [pdf|html|amend|sigaudit|dedup|rundedup|
       runfilter|runpii|runmix|shardexport|wat|ann|ivf|pq|ivfpq|
       semdedup|runsemdedup|
       stream|neardup|
       linededup|substrdedup|trainingprep|streamline] [n_docs] (default pdf 1e6)

linededup / substrdedup modes (r6): 1M docs with 200-way duplication
through the two sub-document dedup granularities (C4 line dedup,
Lee et al. exact-substring) — the hot-key partial-agg and
interval-merge stress.

stream mode: n_docs PDFs (default 100k) through the exactly-once
streaming ingest (stream_extract: readStream -> extraction UDF ->
checkpointed parquet sink, maxFilesPerTrigger micro-batches) —
measures Structured Streaming overhead vs the batch path.

neardup mode: n_docs (default 100k) k-way-duplicated texts + 10%
twins through the stateful band-key stream (stream_neardup) — the
seen-set contention stress.

ann mode: n_docs deterministic 64-dim vectors (default 100k) through
the multiprobe LSH top-k operator at the AT-SCALE bit widths (16
coarse + 20 fine hyperplanes instead of the registry's 8+12): bucket
occupancy is ~n/2^bits, so bits must grow with log2(n) to hold
per-bucket and per-probe candidate work constant — this is the
escalation the operator docstrings promise, demonstrated rather than
asserted. Run with SOAK_SMJ=1 for the pure shuffle-join shape.
Env:   SPARK_GRAFT_CPUS (default 32), SOAK_DIR (default /tmp/soak),
       SOAK_RECALL=N samples N queries for an exact-truth recall@3
       estimate (near zero on this uniform corpus BY CONSTRUCTION —
       it measures the searched fraction, see SOAK_PLANT),
       SOAK_PLANT=frac appends frac*n noisy twins (cos~0.994) and
       reports closed-form planted_recall_at_3 — the metric that
       actually reflects operator quality on near-dup-structured
       corpora at scale,
       SOAK_SMJ=1 disables broadcast joins (autoBroadcastJoinThreshold
       =-1) so every join runs the at-scale sort-merge path — the
       100 TB join shape, where key skew actually forms stragglers
       (r5 verdict #6; same rationale as bench_skew_crossover.py)

dedup mode: the corpus is n_docs with 200-way exact duplication (the
clique stress from BENCH/BASELINE.md) run through dedup_keep_list —
the composed operator whose exact-first ordering is the point.

rundedup mode (r6): the same corpus through run.py --mode dedup — the
production launch surface (url-keyed decisions + lineage metrics +
run_id, input read from parquet like a crawl table).

ivf mode (r6): 100k vectors through ann_ivf_over with SAMPLED Lloyd
training (train_frac=0.1, K=64, nprobe=8) — the at-scale training
path the operator docstring promises, demonstrated.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402


def _soak_run_job(spark, rows_df, job_mode: str, mode: str, smj: bool,
                  soak_dir: str, check=None, **run_kw) -> None:
    """Shared harness for the run_job-surfaced soak modes (wat,
    rundedup, runfilter, runpii, runsemdedup, runurl, runmix,
    runurldedup, rundomaincap): materialize the input like a crawl
    table, time EVERYTHING run_job does (transform + both parquet
    appends), report one JSON line, clean up. `check(result,
    metrics_path)`, when given, runs untimed before the cleanup: it
    asserts on the run and returns extra JSON fields."""
    from pdfio_spark.pipeline.run import run_job
    inp = os.path.join(soak_dir, f"{mode}_in")
    outp = os.path.join(soak_dir, f"{mode}_out")
    met = os.path.join(soak_dir, f"{mode}_met")
    for p in (inp, outp, met):
        shutil.rmtree(p, ignore_errors=True)
    rows_df.write.parquet(inp)
    n = spark.read.parquet(inp).count()
    t0 = time.perf_counter()
    r = run_job(spark, inp, outp, met, mode=job_mode, **run_kw)
    dt = time.perf_counter() - t0
    extra = check(r, met) if check else {}
    print(json.dumps({"mode": mode, "smj": smj, "n_docs": n,
                      "written": r["written"],
                      "by_status": r["by_status"], **extra,
                      "sec": round(dt, 1),
                      "docs_per_sec": round(n / dt, 1)}))
    for p in (inp, outp, met):
        shutil.rmtree(p, ignore_errors=True)
    spark.stop()


def _replicated_corpus(spark, sf_dir: str, n_docs: int, cpus: int,
                       key: str = "url", checkpoint: bool = False):
    """~n_docs-row corpus: the sf table's texts replicated under
    distinct keys — ONE builder for every text-replication soak
    (rundedup/runfilter/runpii key by doc:// url; dedup/linededup/
    substrdedup key by bigint doc_id — r6 review: a third inline copy
    had crept in). Floor-division of the replication factor means the
    materialized count is count*k <= n_docs, not exactly n_docs."""
    tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = max(1, n_docs // max(tbl.count(), 1))
    reps = spark.range(k).select(F.col("id").alias("rep"))
    kid = F.col("doc_id") * k + F.col("rep")
    kcol = (F.concat(F.lit("doc://"), kid).alias("url")
            if key == "url" else kid.alias("doc_id"))
    out = (tbl.select("doc_id", "text").crossJoin(reps)
           .select(kcol, "text")
           .limit(n_docs).repartition(cpus * 2))
    return out.localCheckpoint() if checkpoint else out


def _replicated_url_corpus(spark, sf_dir: str, n_docs: int, cpus: int):
    return _replicated_corpus(spark, sf_dir, n_docs, cpus, key="url")


def _uniform_corpus(spark, n_vec: int, cpus: int):
    """Deterministic synthetic vectors: 64 dims from xxhash64 of
    (id, dim), scaled to [-1, 1) — JVM-side, no driver loop. Shared
    by the ann and ivf modes so both soaks measure the SAME corpus."""
    dims = ",".join(
        f"cast(xxhash64(id, {i}) % 1000003 as double) / 1000003.0"
        for i in range(64))
    return (spark.range(n_vec)
            .selectExpr("id as vec_id", f"array({dims}) as embedding")
            .repartition(cpus * 2).localCheckpoint())


def _plant_twins(emb, n_vec: int, n_twin: int, cpus: int):
    """Append n_twin noisy twins (0.9*source + 0.1*fresh-noise,
    cos ~ 0.994) for vec_ids [0, n_twin); twin of source v gets
    vec_id v + n_vec, so ground truth is closed-form — the metric
    that reflects ANN quality on near-dup-structured corpora (the
    uniform corpus alone has no genuine near-neighbors: exact-truth
    recall there only measures the searched fraction)."""
    noise = ",".join(
        f"cast(xxhash64(vec_id + {n_vec}, {i}) % 1000003 "
        "as double) / 1000003.0" for i in range(64))
    twins = (emb.filter(f"vec_id < {n_twin}")
             .selectExpr(
                 f"vec_id + {n_vec} as vec_id",
                 f"zip_with(embedding, array({noise}), "
                 "(b, z) -> 0.9d * b + 0.1d * z) as embedding"))
    return (emb.unionByName(twins)
            .repartition(cpus * 2).localCheckpoint())


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "pdf"
    n_docs = int(float(sys.argv[2])) if len(sys.argv) > 2 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    soak_dir = os.environ.get("SOAK_DIR", "/tmp/soak")
    sf_dir = "/root/testdata/sf0.1"

    from pdfio_spark.pipeline.session import get_spark
    spark = get_spark(cpus=cpus, app=f"pdfio_soak_{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    smj = os.environ.get("SOAK_SMJ") == "1"
    if smj:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    if mode == "stream":
        # streaming-ingest soak: the SAME extraction kernel behind
        # readStream/writeStream with an exactly-once checkpoint —
        # measures the Structured Streaming overhead vs the batch path
        # (maxFilesPerTrigger batches the corpus into multiple
        # micro-batches; n_docs default 100k keeps file counts sane)
        from bench import replicate_corpus
        from pdfio_spark.pipeline.job import gen_pdf_corpus
        from pdfio_spark.pipeline.streaming import stream_extract
        n_docs = n_docs if len(sys.argv) > 2 else 100_000
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        k = max(1, (n_docs + base - 1) // base)
        # ONE replication formula repo-wide (bench.replicate_corpus) so
        # soak and bench corpora stay comparable (r5 review)
        docs = replicate_corpus(spark, sf_dir, k).limit(n_docs)
        inp = os.path.join(soak_dir, "stream_in")
        chk = os.path.join(soak_dir, "stream_chk")
        outp = os.path.join(soak_dir, "stream_out")
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        (gen_pdf_corpus(docs).repartition(64).write.parquet(inp))
        n = spark.read.parquet(inp).count()
        t0 = time.perf_counter()
        q = stream_extract(spark, inp, chk, outp)
        q.awaitTermination()
        dt = time.perf_counter() - t0
        out = spark.read.parquet(outp)
        n_ok = out.filter("status = 'ok'").count()
        batches = q.lastProgress["batchId"] + 1 if q.lastProgress else None
        print(json.dumps({"mode": mode, "n_docs": n, "ok": n_ok,
                          "micro_batches": batches,
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "neardup":
        # stateful-streaming scale probe: n_docs (default 100k)
        # through stream_neardup. replicate_corpus duplicates each base
        # text k-fold, so the corpus is a k-way near-dup cluster stress
        # (every band bucket contested by ~k docs + 10% extra twins);
        # correct output keeps ~one url per distinct text. 4 GroupState
        # band keys per distinct doc, exactly-once flags, availableNow
        from bench import replicate_corpus
        from pdfio_spark.pipeline.streaming import (
            neardup_keep_decisions, stream_neardup)
        n_docs = n_docs if len(sys.argv) > 2 else 100_000
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        k = max(1, (n_docs + base - 1) // base)
        docs = (replicate_corpus(spark, sf_dir, k).limit(n_docs)
                .selectExpr("concat('doc://', doc_id) AS url", "text"))
        twins = (docs.limit(n_docs // 10)
                 .selectExpr("concat(url, '-twin') AS url", "text"))
        inp = os.path.join(soak_dir, "nd_in")
        chk = os.path.join(soak_dir, "nd_chk")
        outp = os.path.join(soak_dir, "nd_out")
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        docs.unionByName(twins).repartition(64).write.parquet(inp)
        n = spark.read.parquet(inp).count()
        t0 = time.perf_counter()
        q = stream_neardup(spark, inp, chk, outp)
        q.awaitTermination()
        dt = time.perf_counter() - t0
        dec = neardup_keep_decisions(spark, outp)
        n_dec = dec.count()
        n_dropped = dec.filter("NOT keep").count()
        print(json.dumps({"mode": mode, "n_docs": n,
                          "decisions": n_dec, "flagged": n_dropped,
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "streamline":
        # stateful-streaming scale probe for the line seen-set:
        # n_docs (default 100k) 200-way-duplicated docs through the
        # multi-line fixture rendering and stream_line_dedup — every
        # body line's GroupState contested by ~200 replicas, the
        # header line by the whole corpus; exactly-once line
        # decisions reassembled and cross-checked against the batch
        # operator's aggregate counts on the same input.
        from pdfio_spark.pipeline.queries import (line_dedup_fixture,
                                                  line_dedup_over,
                                                  line_dedup_reassemble)
        from pdfio_spark.pipeline.streaming import stream_line_dedup
        n_docs = n_docs if len(sys.argv) > 2 else 100_000
        docs = line_dedup_fixture(_replicated_corpus(
            spark, sf_dir, n_docs, cpus, key="doc_id"))
        inp = os.path.join(soak_dir, "sl_in")
        chk = os.path.join(soak_dir, "sl_chk")
        outp = os.path.join(soak_dir, "sl_out")
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        docs.repartition(64).write.parquet(inp)
        n = spark.read.parquet(inp).count()
        t0 = time.perf_counter()
        q = stream_line_dedup(spark, inp, chk, outp)
        q.awaitTermination()
        dt = time.perf_counter() - t0
        agg = (line_dedup_reassemble(spark.read.parquet(outp))
               .agg(F.count("*").alias("docs"),
                    F.sum("n_lines").alias("lines"),
                    F.sum("n_kept").alias("kept")).collect()[0])
        # batch-operator truth on the same materialized input: the
        # corpus-global KEPT COUNT is order-independent even though
        # which copy wins is arrival-order in the stream
        bk = (line_dedup_over(spark.read.parquet(inp))
              .agg(F.sum("n_kept")).collect()[0][0])
        print(json.dumps({"mode": mode, "n_docs": n,
                          "lines": int(agg["lines"]),
                          "kept_lines": int(agg["kept"]),
                          "batch_kept_lines": int(bk),
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "streamsubstr":
        # stateful-streaming scale probe for the GRAM seen-set:
        # n_docs (default 100k) 200-way-duplicated docs through the
        # span-planting fixture and stream_substr_dedup — every body
        # gram's GroupState contested by ~200 replicas, the header
        # passage's by the whole corpus (the hot-key shape the
        # chunk-wise decide_fn exists for); exactly-once gram
        # decisions reassembled and cross-checked against the batch
        # operator's aggregate counts on the same input. Emits one
        # state row per TOKEN position, ~10x the line soak's volume
        # per doc — expect a proportionally lower docs/s.
        from pdfio_spark.pipeline.queries import (
            substr_dedup_fixture, substr_dedup_over,
            substr_dedup_reassemble)
        from pdfio_spark.pipeline.streaming import stream_substr_dedup
        n_docs = n_docs if len(sys.argv) > 2 else 100_000
        docs = substr_dedup_fixture(_replicated_corpus(
            spark, sf_dir, n_docs, cpus, key="doc_id"))
        inp = os.path.join(soak_dir, "ss_in")
        chk = os.path.join(soak_dir, "ss_chk")
        outp = os.path.join(soak_dir, "ss_out")
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        docs.repartition(64).write.parquet(inp)
        n = spark.read.parquet(inp).count()
        t0 = time.perf_counter()
        q = stream_substr_dedup(spark, inp, chk, outp)
        q.awaitTermination()
        dt = time.perf_counter() - t0
        src = spark.read.parquet(inp)
        sink = spark.read.parquet(outp)
        dup = sink.filter("NOT kept").select("doc_id", "pos")
        agg = (substr_dedup_reassemble(src, dup)
               .agg(F.count("*").alias("docs"),
                    F.sum("n_tokens").alias("tokens"),
                    F.sum("n_kept").alias("kept")).collect()[0])
        # the order-independent invariant: exactly ONE kept gram row
        # per distinct gram, matching the batch melt's distinct count
        # regardless of arrival order. The kept TOKEN total is NOT
        # order-independent under multi-batch arrival — which copy of
        # two OVERLAPPING grams survives changes the interval gaps
        # (batch total printed beside it for the drift magnitude)
        kept_grams = sink.filter("kept").count()
        from pdfio_spark.pipeline.queries import substr_gram_melt
        distinct_grams = substr_gram_melt(src).select("g") \
            .distinct().count()
        bk = (substr_dedup_over(src)
              .agg(F.sum("n_kept")).collect()[0][0])
        print(json.dumps({"mode": mode, "n_docs": n,
                          "tokens": int(agg["tokens"]),
                          "kept_grams": int(kept_grams),
                          "distinct_grams": int(distinct_grams),
                          "kept_tokens": int(agg["kept"]),
                          "batch_kept_tokens": int(bk),
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        assert kept_grams == distinct_grams, \
            (kept_grams, distinct_grams)
        for d in (inp, chk, outp):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "ann":
        from pdfio_spark.pipeline.queries import (ann_lsh_topk_over,
                                                  _hyperplanes)
        n_vec = n_docs if len(sys.argv) > 2 else 100_000
        emb = _uniform_corpus(spark, n_vec, cpus)

        # Wider planes from the registry's OWN generator (r6: the
        # default _hyperplanes are now md5-per-coefficient — the r5
        # soak's finding that a correlated counter-hash code collapses
        # into ~9k of 65k buckets at 16 bits and multiprobe amplifies
        # that into ~350M candidate pairs is what forced the change;
        # lesson recorded in BENCH/BASELINE.md 'bits-scale-with-n').
        # Only the BIT WIDTH is overridden here: occupancy ~ n/2^bits,
        # so 100k vectors get 16+20 bits where the registry's sf-scale
        # tables use 8+12.
        coarse = _hyperplanes(16, tag="c")
        fine = _hyperplanes(20, tag="f")
        plant = float(os.environ.get("SOAK_PLANT", "0"))
        n_twin = int(n_vec * plant)
        if n_twin:
            # Planted-twin corpus (r6): the uniform-random corpus has
            # NO genuine near-neighbors — exact top-3 is barely closer
            # than random, so sampled exact recall (SOAK_RECALL) only
            # measures the searched fraction (~0.04% at these widths),
            # not operator quality. ~3.5%/bit sign-flip probability at
            # random hyperplanes for the 0.9/0.1 mix.
            emb = _plant_twins(emb, n_vec, n_twin, cpus)
        n_sample = int(os.environ.get("SOAK_RECALL", "0"))
        t0 = time.perf_counter()
        out = ann_lsh_topk_over(emb, coarse_planes=coarse,
                                fine_planes=fine)
        if n_twin or n_sample:
            # recall blocks below take MORE actions over `out`; pin it
            # once so the salted join + top-k runs exactly once (the
            # checkpoint materialization is inside the timed window —
            # same work, measured once)
            out = out.localCheckpoint()
        # both aggregates in ONE pass — a second .count() would re-run
        # the whole salted join + top-k (r5 review)
        agg = out.agg(F.count("*"),
                      F.countDistinct("vec_id")).collect()[0]
        n_rows, with_nn = int(agg[0]), int(agg[1])
        dt = time.perf_counter() - t0
        res = {"mode": mode, "smj": smj, "n_vectors": n_vec,
               "bits": [16, 20], "topk_rows": n_rows,
               "vectors_with_neighbors": with_nn,
               "sec": round(dt, 1),
               "vectors_per_sec": round(n_vec / dt, 1)}
        if n_twin:
            # a twin's SOURCE in its top-3 = hit (by symmetry the
            # source->twin direction is the same event; counting one
            # direction keeps the denominator exact)
            found = (out.filter(F.col("vec_id") >= n_vec)
                     .filter(F.col("nn_id") == F.col("vec_id") - n_vec)
                     .select("vec_id").distinct().count())
            res["planted_twins"] = n_twin
            res["planted_recall_at_3"] = round(found / n_twin, 3)
        if n_sample:
            # AT-SCALE recall estimate (r6): the registry pins recall
            # only at sf-scale; here exact top-3 ground truth is
            # computed for a deterministic sample of queries (tiny
            # side BROADCAST against the full corpus — n_sample x
            # n_vec exact cosines, the brute-force shape the LSH
            # operator exists to avoid corpus-wide) and compared
            # against the operator's output for those queries.
            # Excluded from the timing above by design.
            # clamp: SOAK_RECALL > n_vec would make the step 0
            # (pmod-by-zero -> empty sample / ANSI error)
            step = max(1, n_vec // n_sample)
            qs = (emb.filter(F.pmod(F.col("vec_id"),
                                    F.lit(step)) == 0)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_emb")))
            dot = F.aggregate(
                F.zip_with(F.col("q_emb"), F.col("embedding"),
                           lambda x, y: x.cast("double")
                           * y.cast("double")),
                F.lit(0.0), lambda acc, v: acc + v)
            nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
                F.transform(c, lambda x: x.cast("double")
                            * x.cast("double")),
                F.lit(0.0), lambda acc, v: acc + v))
            from pyspark.sql.window import Window
            sim = dot / (nrm(F.col("q_emb")) * nrm(F.col("embedding")))
            w = Window.partitionBy("q_id").orderBy(
                F.desc("sim"), F.asc("vec_id"))
            truth = (emb.crossJoin(F.broadcast(qs))
                     .filter(F.col("vec_id") != F.col("q_id"))
                     .select("q_id", "vec_id", sim.alias("sim"))
                     .withColumn("rk", F.row_number().over(w))
                     .filter(F.col("rk") <= 3)
                     .select("q_id", F.col("vec_id").alias("nn_id"))
                     .localCheckpoint())  # hits join + denom count
            got = (out.join(qs.select(F.col("q_id").alias("vec_id")),
                            "vec_id")
                   .select("vec_id", "nn_id"))
            hits = truth.join(
                got, (truth.q_id == got.vec_id)
                & (truth.nn_id == got.nn_id)).count()
            denom = truth.count()
            res["recall_sample_queries"] = int(qs.count())
            res["recall_at_3"] = round(hits / max(denom, 1), 3)
        print(json.dumps(res))
        spark.stop()
        return

    if mode == "ivf":
        # IVF at 100k vectors with SAMPLED training (r6): the
        # docstring escalation demonstrated — ivf_train runs over a
        # 10% deterministic slice (train_frac=0.1, ~10k points for
        # K=64 cells), then the full corpus is assigned and searched.
        # Centroid quality needs ~1000x K training points, not the
        # corpus — at 10^12 vectors the Lloyd passes CANNOT scan the
        # table, and here is the measured proof they don't need to.
        from pdfio_spark.pipeline.queries import ann_ivf_over
        n_vec = n_docs if len(sys.argv) > 2 else 100_000
        emb = _uniform_corpus(spark, n_vec, cpus)
        plant = float(os.environ.get("SOAK_PLANT", "0"))
        n_twin = int(n_vec * plant)
        probe_filter = None
        if n_twin:
            # twins as the query set: closed-form ground truth for
            # IVF too (does the source land in the twin's top-5 —
            # i.e. do twin and source quantize to probed cells)
            emb = _plant_twins(emb, n_vec, n_twin, cpus)
            probe_filter = F.col("vec_id") >= n_vec
        t0 = time.perf_counter()
        out = ann_ivf_over(emb, k=64, nprobe=8, train_frac=0.1,
                           probe_filter=probe_filter)
        if n_twin:
            # the recall count below is a second action over `out` —
            # pin it so training + search run exactly once (inside
            # the timed window: same work, measured once)
            out = out.localCheckpoint()
        agg = out.agg(F.count("*"),
                      F.countDistinct("q_id")).collect()[0]
        dt = time.perf_counter() - t0
        res = {"mode": mode, "smj": smj, "n_vectors": n_vec,
               "k": 64, "nprobe": 8, "train_frac": 0.1,
               "topk_rows": int(agg[0]),
               "queries": int(agg[1]),
               "sec": round(dt, 1),
               "vectors_per_sec": round(n_vec / dt, 1)}
        if n_twin:
            found = (out.filter(F.col("vec_id")
                                == F.col("q_id") - n_vec)
                     .select("q_id").distinct().count())
            res["planted_twins"] = n_twin
            res["planted_recall_at_5"] = round(found / n_twin, 3)
        print(json.dumps(res))
        spark.stop()
        return

    if mode == "pq":
        # PQ at 100k vectors with sampled codebook training (r6, the
        # triad's third member): codebooks train on a 10% slice, the
        # whole corpus encodes to 4 small codes (2 bytes/vector — at
        # 10^12 vectors that is a 2 TB codes table vs 512 TB of
        # floats), the ADC pass scans codes, and only the shortlist
        # (rerank*topk per query) pays exact cosines.
        from pdfio_spark.pipeline.queries import ann_pq_topk_over
        n_vec = n_docs if len(sys.argv) > 2 else 100_000
        emb = _uniform_corpus(spark, n_vec, cpus)
        plant = float(os.environ.get("SOAK_PLANT", "0"))
        n_twin = int(n_vec * plant)
        probe_filter = None
        if n_twin:
            emb = _plant_twins(emb, n_vec, n_twin, cpus)
            # every 10th twin (~1k probes, the standing ivf-line
            # count): PQ's ADC is a full code scan PER QUERY, so the
            # pair count is probes x corpus — 10k probes would be
            # 1.1B window rows for no extra statistical power
            probe_filter = (F.col("vec_id") >= n_vec) \
                & ((F.col("vec_id") - n_vec) % 10 == 0)
        t0 = time.perf_counter()
        out = ann_pq_topk_over(emb, train_frac=0.1,
                               probe_filter=probe_filter)
        if n_twin:
            out = out.localCheckpoint()
        agg = out.agg(F.count("*"),
                      F.countDistinct("q_id")).collect()[0]
        dt = time.perf_counter() - t0
        res = {"mode": mode, "smj": smj, "n_vectors": n_vec,
               "subspaces": 4, "codes": 16, "rerank": 16,
               "train_frac": 0.1,
               "topk_rows": int(agg[0]),
               "queries": int(agg[1]),
               "sec": round(dt, 1),
               "vectors_per_sec": round(n_vec / dt, 1)}
        if n_twin:
            found = (out.filter(F.col("vec_id")
                                == F.col("q_id") - n_vec)
                     .select("q_id").distinct().count())
            # denominator = probes ISSUED ((n_twin+9)//10 by the %10
            # filter), NOT countDistinct(q_id) of the output — a probe
            # whose pruned cells are empty returns zero rows and would
            # silently drop OUT of an output-derived denominator,
            # inflating recall exactly when pruning misses (r6 review)
            issued = (n_twin + 9) // 10
            res["planted_twins"] = n_twin
            res["probes_issued"] = issued
            res["answered_queries"] = int(agg[1])
            res["planted_recall_at_5"] = round(
                found / max(issued, 1), 3)
        print(json.dumps(res))
        spark.stop()
        return

    if mode == "ivfpq":
        # IVF-PQ at 100k (r6, the 10^12 composition): 64 cells prune
        # candidates to nprobe/cells = 12.5%, residual PQ codes score
        # them with lookups, exact cosine touches only the shortlist.
        # Same sampled training and planted-twin protocol as ivf/pq.
        from pdfio_spark.pipeline.queries import ann_ivfpq_topk_over
        n_vec = n_docs if len(sys.argv) > 2 else 100_000
        emb = _uniform_corpus(spark, n_vec, cpus)
        plant = float(os.environ.get("SOAK_PLANT", "0"))
        n_twin = int(n_vec * plant)
        probe_filter = None
        if n_twin:
            emb = _plant_twins(emb, n_vec, n_twin, cpus)
            probe_filter = (F.col("vec_id") >= n_vec) \
                & ((F.col("vec_id") - n_vec) % 10 == 0)
        t0 = time.perf_counter()
        out = ann_ivfpq_topk_over(emb, cells=64, nprobe=8,
                                  train_frac=0.1,
                                  probe_filter=probe_filter)
        if n_twin:
            out = out.localCheckpoint()
        agg = out.agg(F.count("*"),
                      F.countDistinct("q_id")).collect()[0]
        dt = time.perf_counter() - t0
        res = {"mode": mode, "smj": smj, "n_vectors": n_vec,
               "cells": 64, "nprobe": 8, "subspaces": 4, "codes": 16,
               "rerank": 16, "train_frac": 0.1,
               "topk_rows": int(agg[0]),
               "queries": int(agg[1]),
               "sec": round(dt, 1),
               "vectors_per_sec": round(n_vec / dt, 1)}
        if n_twin:
            found = (out.filter(F.col("vec_id")
                                == F.col("q_id") - n_vec)
                     .select("q_id").distinct().count())
            # issued-probe denominator, same rationale as pq above —
            # doubly load-bearing here: IVF pruning CAN return zero
            # rows for a probe whose cells are empty after self-filter
            issued = (n_twin + 9) // 10
            res["planted_twins"] = n_twin
            res["probes_issued"] = issued
            res["answered_queries"] = int(agg[1])
            res["planted_recall_at_5"] = round(
                found / max(issued, 1), 3)
        print(json.dumps(res))
        spark.stop()
        return

    if mode == "semdedup":
        # SemDeDup at 100k vectors + 10% planted twins (cos~0.994 >
        # tau=0.95): closed-form truth is one collapsed pair per twin
        # UNLESS the pair straddles a Lloyd cell boundary — within-
        # cluster-only comparison is SemDeDup's documented recall
        # trade, so the collapse fraction is the reported metric.
        # k=256 ~ sqrt(n/2), the cost balance point (assignment n*k
        # vs pairs n^2/2k); codebook trains on a 10% sample.
        from pdfio_spark.pipeline.queries import semdedup_over
        n_vec = n_docs if len(sys.argv) > 2 else 100_000
        nprobe = int(os.environ.get("SOAK_NPROBE", "1"))
        emb = _uniform_corpus(spark, n_vec, cpus)
        n_twin = n_vec // 10
        emb = _plant_twins(emb, n_vec, n_twin, cpus)
        t0 = time.perf_counter()
        out = semdedup_over(emb, k=256, tau=0.95, train_frac=0.1,
                            nprobe=nprobe).localCheckpoint()
        total, n_kept = out.agg(
            F.count("*"),
            F.sum(F.col("is_kept").cast("long"))).collect()[0]
        dt = time.perf_counter() - t0
        src = (out.filter(F.col("vec_id") < n_twin)
               .select(F.col("vec_id").alias("s_id"),
                       F.col("keep_id").alias("s_keep")))
        tw = (out.filter(F.col("vec_id") >= n_vec)
              .select((F.col("vec_id") - n_vec).alias("s_id"),
                      F.col("keep_id").alias("t_keep")))
        collapsed = (src.join(tw, "s_id")
                     .filter("s_keep = t_keep").count())
        assert total == n_vec + n_twin  # one decision per vector
        # uniform vectors have no chance >0.95 pairs (cos std ~ 1/8):
        # every drop must come from a collapsed planted pair
        assert int(n_kept) == total - collapsed
        print(json.dumps({
            "mode": mode, "smj": smj, "n_vectors": n_vec,
            "k": 256, "tau": 0.95, "train_frac": 0.1,
            "nprobe": nprobe,
            "planted_twins": n_twin, "n_kept": int(n_kept),
            "collapsed_pairs": collapsed,
            "planted_collapse_frac": round(collapsed / n_twin, 3),
            "sec": round(dt, 1),
            "vectors_per_sec": round((n_vec + n_twin) / dt, 1)}))
        spark.stop()
        return

    if mode == "runsemdedup":
        # the same corpus through run.py --mode semdedup — the
        # production surface (url-keyed decisions, lineage metrics,
        # parquet in/out)
        n_vec = n_docs if len(sys.argv) > 2 else 100_000
        emb = _plant_twins(_uniform_corpus(spark, n_vec, cpus),
                           n_vec, n_vec // 10, cpus)
        rows = emb.select(
            F.concat(F.lit("doc://"), F.col("vec_id")).alias("url"),
            "embedding")
        _soak_run_job(spark, rows, "semdedup", mode, smj, soak_dir,
                      semdedup_opts={"k": 256, "tau": 0.95,
                                     "train_frac": 0.1})
        return

    if mode == "dedup":
        from pdfio_spark.pipeline.queries import dedup_keep_list
        docs = _replicated_corpus(spark, sf_dir, n_docs, cpus,
                                  key="doc_id", checkpoint=True)
        n = docs.count()
        t0 = time.perf_counter()
        out = dedup_keep_list(docs)
        n_rows = out.count()
        n_kept = out.filter("is_kept").count()
        dt = time.perf_counter() - t0
        print(json.dumps({"mode": mode, "smj": smj, "n_docs": n,
                          "rows": n_rows, "kept": n_kept,
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        spark.stop()
        return

    if mode in ("linededup", "substrdedup"):
        # the two sub-document dedup granularities (r6) at 1M docs
        # with 200-way duplication: after the fixture rendering every
        # replica's body lines/grams duplicate 200x, the header
        # line/passage occurs n_docs times, footers n_docs/7 — the
        # hot-key partial-aggregation claim (a boilerplate line on
        # every page collapses map-side, no reducer melt) and the
        # interval-merge fast path (replicas strip fully) both under
        # stress. SOAK_SMJ=1 for the at-scale join shape.
        from pdfio_spark.pipeline.queries import (
            line_dedup_fixture, line_dedup_over,
            substr_dedup_fixture, substr_dedup_over)
        docs = _replicated_corpus(spark, sf_dir, n_docs, cpus,
                                  key="doc_id", checkpoint=True)
        n = docs.count()
        # a fully-deduped replica keeps 0 tokens (substr) but exactly
        # 1 line (line dedup: blank structural lines always pass)
        fixture, over, floor = (
            (line_dedup_fixture, line_dedup_over, 1)
            if mode == "linededup" else
            (substr_dedup_fixture, substr_dedup_over, 0))
        t0 = time.perf_counter()
        out = over(fixture(docs))
        agg = out.agg(F.count("*").alias("rows"),
                      F.sum((F.col("n_kept") <= floor).cast("long"))
                      .alias("stripped"),
                      F.sum("n_kept").alias("kept_units")).collect()[0]
        dt = time.perf_counter() - t0
        print(json.dumps({"mode": mode, "smj": smj, "n_docs": n,
                          "rows": agg["rows"],
                          "fully_stripped": int(agg["stripped"]),
                          "kept_units": int(agg["kept_units"]),
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        spark.stop()
        return

    if mode == "wat":
        # the WAT production surface (r6): n_docs synthetic flattened
        # crawl-metadata rows (the sources.read_wat output shape)
        # through run_job --mode wat — typed-column promotion +
        # lineage metrics + run_id, reading a pre-materialized input
        # like a real metadata table. All map values JVM-side; the
        # dotted prefix is the PRODUCTION constant, not a copy.
        from pdfio_spark.pipeline.job import _WAT_HTTP as pm
        rows = (spark.range(n_docs).selectExpr(
            "concat('wat://', id) as url",
            f"""map(
              '{pm}Headers.Content-Type',
              element_at(array('text/html', 'application/pdf',
                               'image/png'), cast(id % 3 + 1 as int)),
              '{pm}Headers.Server',
              element_at(array('nginx', 'apache'),
                         cast(id % 2 + 1 as int)),
              '{pm}Response-Message.Status',
              cast(200 + (id % 5) * 100 as string),
              '{pm}HTML-Metadata.Links.length',
              cast(id % 50 as string),
              '{pm}HTML-Metadata.Head.Title',
              concat('Page ', id)) as metadata""",
            "cast(1000 + id % 9000 as long) as nbytes")
            .repartition(cpus * 2))
        _soak_run_job(spark, rows, "wat", mode, smj, soak_dir)
        return

    if mode == "rundedup":
        # the PRODUCTION dedup surface (r6 verdict #4): the same
        # 200-way-duplicated corpus, but launched through run_job
        # --mode dedup — url-keyed input parquet, keep decisions +
        # lineage metrics written beside it, run_id stamped. Timed
        # half = everything run_job does (decide + anti-join + two
        # appends), reading a pre-materialized input like a real crawl
        # table.
        docs = _replicated_url_corpus(spark, sf_dir, n_docs, cpus)
        _soak_run_job(spark, docs, "dedup", mode, smj, soak_dir)
        return

    if mode == "runfilter":
        # the quality gate through run_job --mode filter: sf0.1 texts
        # replicated with a distinct-url suffix, the decision pass +
        # both parquet appends timed. Map-only JVM expressions — like
        # wat, this measures the production contract's overhead
        # ceiling for an expression-plane stage (the repetition
        # aggregate is the only per-row heavy hitter).
        docs = _replicated_url_corpus(spark, sf_dir, n_docs, cpus)
        # thresholds fitted to the synthetic corpus (16-65-word texts
        # with small vocabularies — Gopher web defaults drop 100% of
        # them, faithfully but uselessly for a soak): the mix below
        # keeps ~half, so both decision paths and every reason
        # counter are exercised at 1M
        _soak_run_job(spark, docs, "filter", mode, smj, soak_dir,
                      filter_opts={"min_words": 30,
                                   "max_dup_word_frac": 0.55})
        return

    if mode == "trainingprep":
        # the COMPOSED prep chain a training-data team actually runs,
        # end-to-end at 1M docs / 200-way duplication, cheap-to-
        # expensive stage order (the filter-then-dedup lesson):
        #   1. URL gate         (decided before any content parse;
        #                        5% of the host pool blocklisted)
        #   2. PII scrub        (map-only regexes)
        #   3. quality gate     (map-only metric exprs, tuned to the
        #                        synthetic corpus like runfilter)
        #   4. decontamination  (gram melt + broadcast eval probe)
        #   5. substring dedup  (k-gram melt + islands; duplicated
        #                        spans stripped, doc bodies survive)
        #   6. doc-level dedup  (exact-first keep list over the
        #                        span-stripped text)
        #   7. mixture weights  (epoch upsampling of the survivors —
        #                        rate 2.0 keeps the count closed-form)
        #   8. shard export     (the terminal permutation writer)
        # Each map stage shrinks or shields what the shuffle stages
        # see; one wall-clock for the whole chain is the number that
        # matters at 100 TB.
        from pdfio_spark.pipeline.job import (decontam_decisions,
                                              mix_apply,
                                              mix_decisions,
                                              pii_scrub_over,
                                              quality_decisions,
                                              shard_export,
                                              url_filter_decisions)
        from pdfio_spark.pipeline.queries import (dedup_keep_list,
                                                  substr_dedup_over)
        base = _replicated_corpus(spark, sf_dir, n_docs, cpus,
                                  checkpoint=True)
        # crawl-shaped urls (the doc:// id rides in the path so the
        # dedup stage can recover a numeric doc_id later); ~5% of the
        # 1000-host pool blocklisted
        docs = base.select(
            F.concat(F.lit("https://site"),
                     (F.xxhash64("url") % 500 + 500) % 500,
                     F.lit(".example.com/doc/"),
                     F.substring("url", 7, 20)).alias("url"), "text")
        blocked = [f"site{i}.example.com" for i in range(0, 500, 20)]
        bench = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .orderBy("doc_id").limit(25).select("text")
                 .localCheckpoint())
        n = docs.count()
        t0 = time.perf_counter()
        passed_url = (url_filter_decisions(docs,
                                           blocked_domains=blocked)
                      .filter(F.col("status") == "kept")
                      .select("url").join(docs, "url"))
        # checkpoint between stages, as run_job's parquet hops do in
        # production: scrubbed.text is otherwise a 4-regex ALIAS that
        # CollapseProject inlines into the quality gate's per-bigram
        # lambda — the fold-inlining corollary one level up (measured
        # ~50 s of the 100k chain)
        scrubbed = (pii_scrub_over(passed_url).select("url", "text")
                    .localCheckpoint())
        n_url = scrubbed.count()
        gated = (quality_decisions(scrubbed, min_words=30,
                                   max_dup_word_frac=0.55)
                 .filter(F.col("status") == "kept")
                 .join(scrubbed, "url")
                 .select("url", "text")
                 .localCheckpoint())
        n_gated = gated.count()
        # numeric id recovered from the url path (cheaper than a
        # hash and deterministic; the struct-min okey would also
        # accept xxhash64 ids). Decontam's melt consumes gated once
        # more — the checkpoint above shields the gate lineage.
        cleanu = (decontam_decisions(gated, bench)
                  .filter(F.col("status") == "kept")
                  .select(F.regexp_extract("url", r"/doc/(\d+)", 1)
                          .cast("long").alias("doc_id"), "url",
                          "text")
                  # substr dedup consumes its input on BOTH sides of
                  # the gram self-join — cut the decontam lineage once
                  .localCheckpoint())
        n_clean = cleanu.count()
        clean = cleanu.select("doc_id", "text")
        urlmap = cleanu.select("doc_id", "url")
        span = (substr_dedup_over(clean)
                .select("doc_id", F.col("text_out").alias("text"))
                .localCheckpoint())
        n_span_docs = span.filter(F.length("text") > 0).count()
        keep = dedup_keep_list(span)
        # the assembled training set: kept survivors with body text,
        # urls recovered for the mixture stage
        final = (span.join(keep.filter("is_kept")
                           .select("doc_id"), "doc_id")
                 .filter(F.length("text") > 0)
                 .join(urlmap, "doc_id")
                 .select("url", "text").localCheckpoint())
        n_kept = final.count()
        # 7. epoch upsampling at rate 2.0 (integer rate -> exactly 2
        # copies, closed-form) + 8. the terminal shard writer, copies
        # spread by the (url, copy) key
        mixd = mix_decisions(final.select("url"),
                             weights={"example.com": 2.0})
        outp = os.path.join(soak_dir, "tp_shards")
        shutil.rmtree(outp, ignore_errors=True)
        shard_export(mix_apply(final, mixd), outp, n_shards=32,
                     key_cols=("url", "copy"))
        n_exported = spark.read.parquet(outp).count()
        dt = time.perf_counter() - t0
        assert n_exported == 2 * n_kept, (n_exported, n_kept)
        print(json.dumps({"mode": mode, "smj": smj, "n_docs": n,
                          "after_url": n_url,
                          "after_quality": n_gated,
                          "after_decontam": n_clean,
                          "nonempty_after_span_dedup": n_span_docs,
                          "final_kept": n_kept,
                          "exported_rows": n_exported,
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        shutil.rmtree(outp, ignore_errors=True)
        spark.stop()
        return

    if mode == "runurl":
        # the URL gate through run_job --mode urlfilter: n_docs
        # synthetic crawl URLs over a 1000-host pool (id-hash scheme/
        # subdomain/port/fragment variation so every parse branch
        # runs), 100 of the hosts blocklisted + 2 bad tokens — the
        # cheapest production stage (url column only reaches the
        # scan; map-only exprs + two broadcast joins), its docs/s is
        # the contract ceiling for a decision-only pass.
        urls = (spark.range(n_docs).selectExpr(
            "concat(element_at(array('https', 'http'), "
            "cast(id % 2 + 1 as int)), '://', "
            "element_at(array('', 'www.', 'cdn.'), "
            "cast(id % 3 + 1 as int)), "
            "'site', cast(id % 1000 as string), '.example.com"
            "', element_at(array('', ':443', ':8080'), "
            "cast(id % 3 + 1 as int)), "
            "'/page/', cast(id as string), "
            "element_at(array('', '#frag', '?q=casino'), "
            "cast(id % 5 % 3 + 1 as int))) as url"))
        blocked = [f"site{i}.example.com" for i in range(100)]
        _soak_run_job(spark, urls.repartition(cpus * 2), "urlfilter",
                      mode, smj, soak_dir, run_id=f"soak-{mode}",
                      url_opts={"blocked_domains": blocked,
                                "blocked_tokens": ["casino"]})
        return

    if mode == "runmix":
        # data-mixture sampling through run_job --mode mix: n_docs
        # urls over 1000 DISTINCT registrable domains (site{i}.com —
        # NOT site{i}.example.com, which all share one registrable
        # domain), 100 domains weighted 0.0 (drop), 100 weighted 2.5
        # (epoch upsample), rest default 1.0 — closed-form expected
        # class counts, map-only + one broadcast join.
        urls = (spark.range(n_docs).selectExpr(
            "concat('https://www.site', cast(id % 1000 as string), "
            "'.com/page/', cast(id as string)) as url"))
        w = {f"site{i}.com": 0.0 for i in range(100)}
        w.update({f"site{i}.com": 2.5 for i in range(100, 200)})

        def check(res, met):
            bs = res["by_status"]
            want = n_docs // 10  # 100 of 1000 domains per class
            assert bs.get("dropped", 0) == want, bs
            assert bs.get("upsampled", 0) == want, bs
            assert bs.get("kept", 0) == n_docs - 2 * want, bs
            n_out = (spark.read.parquet(met)
                     .agg(F.sum("n_copies_out")).collect()[0][0])
            return {"n_copies_out": int(n_out)}

        _soak_run_job(spark, urls.repartition(cpus * 2), "mix", mode,
                      smj, soak_dir, check, run_id=f"soak-{mode}",
                      mix_opts={"weights": w})
        return

    if mode == "shardexport":
        # the terminal shuffle-and-shard writer at 1M docs: one full
        # shuffle (the permutation), map-side sort, one sorted file
        # per shard dir — the export step after the prep chain.
        from pdfio_spark.pipeline.job import shard_export
        rows = _replicated_url_corpus(spark, sf_dir, n_docs, cpus)
        inp = os.path.join(soak_dir, "se_in")
        outp = os.path.join(soak_dir, "se_out")
        for d in (inp, outp):
            shutil.rmtree(d, ignore_errors=True)
        rows.write.parquet(inp)
        src = spark.read.parquet(inp)
        n = src.count()
        shards = 64
        t0 = time.perf_counter()
        shard_export(src, outp, n_shards=shards)
        dt = time.perf_counter() - t0
        back = spark.read.parquet(outp)
        sizes = [r["n"] for r in back.groupBy("shard")
                 .agg(F.count("*").alias("n")).collect()]
        assert sum(sizes) == n and len(sizes) == shards
        files = sum(
            1 for s in range(shards)
            for f in os.listdir(os.path.join(outp, f"shard={s}"))
            if f.endswith(".parquet"))
        print(json.dumps({
            "mode": mode, "n_docs": n, "n_shards": shards,
            "files": files,
            "shard_min": min(sizes), "shard_max": max(sizes),
            "sec": round(dt, 1),
            "docs_per_sec": round(n / dt, 1)}))
        for d in (inp, outp):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "rundedupref":
        # incremental dedup at 1M new docs against a 1M frozen
        # reference: 80% fresh (disjoint 20-word synthetic texts),
        # 10% exact copies of reference texts (closed-form
        # exact_dup), 10% near copies (last word swapped: 17/18
        # shingles shared — near_dup via the band kernel, fraction
        # reported). The daily-crawl shape: the reference shuffles
        # only 8-byte hash keys + distinct band keys.
        from pdfio_spark.pipeline.run import run_job

        def words(seed, n=20, last_seed=None):
            parts = [f"concat('w', pmod(xxhash64(id, {seed}, {j}), "
                     "100000))" for j in range(n)]
            if last_seed is not None:
                parts[-1] = (f"concat('w', pmod(xxhash64(id, "
                             f"{last_seed}, {n - 1}), 100000))")
            return "concat_ws(' ', " + ", ".join(parts) + ")"

        n_plant = n_docs // 10
        ref = spark.range(n_docs).selectExpr(
            "concat('ref://', id) as url", f"{words(1)} as text")
        fresh = spark.range(n_docs - 2 * n_plant).selectExpr(
            "concat('new://', id) as url", f"{words(2)} as text")
        exact = spark.range(n_plant).selectExpr(
            "concat('ex://', id) as url", f"{words(1)} as text")
        nearp = spark.range(n_plant).selectExpr(
            "concat('nr://', id) as url",
            f"{words(1, last_seed=9)} as text")
        inp = os.path.join(soak_dir, "drf_in")
        refp = os.path.join(soak_dir, "drf_ref")
        outp = os.path.join(soak_dir, "drf_out")
        met = os.path.join(soak_dir, "drf_met")
        for d in (inp, refp, outp, met):
            shutil.rmtree(d, ignore_errors=True)
        (fresh.unionByName(exact).unionByName(nearp)
         .repartition(cpus * 2).write.parquet(inp))
        ref.repartition(cpus * 2).write.parquet(refp)
        t0 = time.perf_counter()
        res = run_job(spark, inp, outp, met, mode="dedupref",
                      run_id=f"soak-{mode}",
                      dedupref_opts={"reference_path": refp})
        dt = time.perf_counter() - t0
        bs = res["by_status"]
        # a near plant whose swapped last word collides with the
        # original (P = 1/vocab = 1e-5 per doc) IS byte-identical —
        # it legitimately lands exact_dup, so the bound is a small
        # tolerance above the planted count, not equality
        assert n_plant <= bs.get("exact_dup", 0) <= n_plant + 20, bs
        near_frac = (spark.read.parquet(outp)
                     .filter("url like 'nr://%' and "
                             "status = 'near_dup'").count()
                     / max(n_plant, 1))
        # the band kernel must actually catch the 1-word-in-20 edits
        # (r6 review: an unasserted near_frac would let a kernel
        # regression pass silently); fresh docs never collide
        # (disjoint shingle vocab draws)
        assert n_plant == 0 or near_frac >= 0.95, near_frac
        assert bs.get("kept", 0) >= n_docs - 2 * n_plant, bs
        print(json.dumps({"mode": mode, "n_docs": res["written"],
                          "by_status": bs,
                          "planted_near_frac": round(near_frac, 3),
                          "sec": round(dt, 1),
                          "docs_per_sec": round(res["written"] / dt,
                                                1)}))
        for d in (inp, refp, outp, met):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "runurldedup":
        # URL-canonical dedup at 1M urls: every odd url is a
        # #fragment recrawl of its even sibling -> exactly half
        # collapse; keeper = the fragment-less raw min.
        urls = (spark.range(n_docs).selectExpr(
            "concat('https://site', "
            "cast(floor(id / 2) % 1000 as string), "
            "'.com/p/', cast(floor(id / 2) as string), "
            "case when id % 2 = 1 then '#frag' else '' end) as url"))

        def check(res, met):
            bs = res["by_status"]
            assert bs.get("kept", 0) == n_docs // 2 + n_docs % 2, bs
            assert bs.get("url_dup", 0) == n_docs // 2, bs
            return {}

        _soak_run_job(spark, urls.repartition(cpus * 2), "urldedup",
                      mode, smj, soak_dir, check, run_id=f"soak-{mode}")
        return

    if mode == "rundomaincap":
        # the per-domain cap under the skew it exists for: HALF the
        # corpus lands on one registrable domain (site0.com), the
        # rest spreads over 500 odd-numbered sites (~1k docs each,
        # exactly at cap) — a naive per-domain row_number would rank
        # 500k rows in ONE task; the bucket decomposition spreads
        # them over 1024 (domain, bucket) groups. www. subdomains
        # exercise the registrable collapse. cap=1000 -> expected
        # kept = 1000 (site0 capped) + ~500k tail. First calibration
        # run used site*.example.com hosts — every row collapsed to
        # the ONE registrable domain example.com and the operator
        # ranked all 1M rows of it in 12 s (kept exactly 1000): the
        # total-skew extreme, handled without a straggler.
        # SOAK_TOKENCAP=1 runs the token-budget variant instead: same
        # skew, docs weighted 5-14 tokens (id-hash), budget 10k
        # tokens/domain — the weighted histogram + second window over
        # the same (domain, bucket) partitioning.
        tokencap = os.environ.get("SOAK_TOKENCAP") == "1"
        urls = (spark.range(n_docs).selectExpr(
            "concat('https://www.site', "
            "case when id % 2 = 0 then 0 else id % 1000 end, "
            "'.com/doc/', id) as url",
            "array_join(transform(sequence(1, "
            "cast(5 + pmod(xxhash64(id), 10) as int)), "
            "x -> 'tok'), ' ') as text"))
        opts = ({"max_per_domain": None,
                 "max_tokens_per_domain": 10_000} if tokencap
                else {"max_per_domain": 1000})
        _soak_run_job(spark, urls.repartition(cpus * 2), "domaincap",
                      mode, smj, soak_dir, run_id=f"soak-{mode}",
                      domaincap_opts=opts)
        return

    if mode == "rundecontam":
        # benchmark decontamination at corpus scale: n_docs
        # 200-way-replicated sf texts, benchmark = 25 of the base
        # texts verbatim — every replica of those texts shares all
        # its 13-grams with the eval set, so planted contamination
        # is a 25/base LOWER bound on the drop fraction (the
        # formulaic sf texts also share a few NATURAL 13-gram spans
        # — measured 5,400 dropped vs 5,000 planted at 1M, the +400
        # are true positives). Timed half = run_job (melt +
        # broadcast probe + hit join + both appends).
        from pdfio_spark.pipeline.run import run_job
        docs = _replicated_url_corpus(spark, sf_dir, n_docs, cpus)
        bench = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .orderBy("doc_id").limit(25).select("text"))
        bp = os.path.join(soak_dir, "dc_bench")
        inp = os.path.join(soak_dir, "dc_in")
        outp = os.path.join(soak_dir, "dc_out")
        met = os.path.join(soak_dir, "dc_met")
        for d in (bp, inp, outp, met):
            shutil.rmtree(d, ignore_errors=True)
        bench.write.parquet(bp)
        docs.write.parquet(inp)
        n = spark.read.parquet(inp).count()
        t0 = time.perf_counter()
        res = run_job(spark, inp, outp, met, mode="decontam",
                      run_id=f"soak-{mode}",
                      decontam_opts={"benchmark_path": bp})
        dt = time.perf_counter() - t0
        print(json.dumps({"mode": mode, "n_docs": n,
                          "by_status": res["by_status"],
                          "sec": round(dt, 1),
                          "docs_per_sec": round(n / dt, 1)}))
        for d in (bp, inp, outp, met):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        return

    if mode == "runpii":
        # the PII redaction stage through run_job --mode pii: sf0.1
        # texts with PLANTED pii (email/ssn/ip/phone/clean picked
        # uniformly by url hash, so ~1 in 5 rows stays clean) — 8 JVM
        # regex passes per row (4 counts + 4 replaces), the
        # production contract's throughput for a regex-bound
        # map-only stage.
        docs = _replicated_url_corpus(spark, sf_dir, n_docs, cpus)
        pii = F.element_at(
            F.array(F.lit(" mail bob@example.com"),
                    F.lit(" ssn 123-45-6789"),
                    F.lit(" from 10.1.2.3"),
                    F.lit(" call (555) 123-4567"), F.lit("")),
            (F.xxhash64("url") % 5 + 5).cast("int") % 5 + 1)
        docs = docs.select("url", F.concat("text", pii).alias("text"))
        _soak_run_job(spark, docs, "pii", mode, smj, soak_dir)
        return

    # corpus build shared by the extraction-family modes below only —
    # it pays an eager count + a replicate plan, so modes that build
    # their own corpus (trainingprep/runpii above) return before it
    from bench import replicate_corpus
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    k = max(1, (n_docs + base - 1) // base)
    docs = replicate_corpus(spark, sf_dir, k,
                            extra_cols=("lang",)).limit(n_docs)
    corpus_path = os.path.join(soak_dir, f"{mode}_corpus")
    shutil.rmtree(corpus_path, ignore_errors=True)

    if mode == "pdf":
        from pdfio_spark.pipeline.job import extract_pdfs, gen_pdf_corpus
        gen_pdf_corpus(docs.select("doc_id", "text")).write \
            .parquet(corpus_path)
        run = extract_pdfs
    elif mode == "amend":
        # distributed incremental amendment (r6): every doc carries
        # /Info (classes pinned) so each row pays the full parse +
        # append-section serialize — the operator's real per-doc cost,
        # not the empty-passthrough shortcut
        from pdfio_spark.pipeline.job import (append_updates,
                                              gen_pdf_corpus,
                                              info_stamp)
        gen_pdf_corpus(docs.select("doc_id", "text"),
                       classes=["with_info"]).write.parquet(corpus_path)
        stamp = info_stamp({"Processor": "pdfio-spark-soak"})

        def run(c):
            return append_updates(c, stamp)
    elif mode == "sigaudit":
        # corpus-scale signature audit (r6): every doc is CMS-signed
        # by the packaged leaf identity; the timed run pays full CMS
        # parse + RSA verify + chain build + CRL AND OCSP matching per
        # row (revocation material present but targeting a different
        # serial, so the whole match path runs without short-circuit)
        from pdfio_spark.fixtures import (make_crl, make_ocsp_response,
                                          test_trust_pems)
        from pdfio_spark.pipeline.job import (gen_pdf_corpus,
                                              validate_signatures_over)
        gen_pdf_corpus(docs.select("doc_id", "text"),
                       classes=["signed_chain"]).write \
            .parquet(corpus_path)
        # revocation material targets serials OTHER than the signing
        # identities' (serial 1 / the CA under GOOD status), so every
        # row pays the full CRL scan + OCSP CertID match with no
        # revoked short-circuit
        crl = make_crl([1])
        resp = make_ocsp_response(target="ca", revoked=False)
        trust = [bytes(p) for p in test_trust_pems()]

        def run(c):
            return validate_signatures_over(
                c, trust_pems=trust, crl_blobs=[crl], ocsp_ders=[resp])
    else:
        from pdfio_spark.pipeline.html_extract import (extract_html,
                                                       gen_html_corpus)
        gen_html_corpus(docs).write.parquet(corpus_path)
        run = extract_html

    corpus = spark.read.parquet(corpus_path)
    n = corpus.count()
    nbytes = corpus.agg(F.sum("nbytes")).collect()[0][0]
    # fan out: a parquet-file partitioning is byte-based; the UDF cost
    # is per-row CPU (CLAUDE.md perf lesson)
    corpus = corpus.repartition(cpus * 4)

    t0 = time.perf_counter()
    out = run(corpus)
    agg = out.groupBy("status").agg(F.count("*").alias("c")).collect()
    dt = time.perf_counter() - t0
    n_ok = sum(r["c"] for r in agg if r["status"] == "ok")
    print(json.dumps({
        "mode": mode, "n_docs": n, "ok": n_ok,
        "corpus_mb": round((nbytes or 0) / 1e6, 1),
        "sec": round(dt, 1),
        "docs_per_sec": round(n / dt, 1),
        "statuses": {r["status"]: r["c"] for r in agg},
    }))
    shutil.rmtree(corpus_path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
