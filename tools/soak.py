#!/usr/bin/env python3
"""Sustained-throughput soaks: materialize an n-doc input (corpus
synthesis untimed, like a production run over an existing crawl
table), time one stage over it and print one JSON line.

Usage: python3 tools/soak.py run <stage>|all [n_docs]
       python3 tools/soak.py <soak> [n_docs]
(no arguments: run pdf at its default n)

Two tables, one harness per shape:

- RUNS: one row per run.py STAGES mode (all 17; tests/test_soak_table.py
  pins the set). `run <stage>` builds the row's input (and any side
  input: decontam's benchmark, dedupref's reference), times everything
  run_job does (transform plus both parquet appends) and prints
  n_docs, written, by_status, the row's check fields and docs/s.
  `run all` runs every row in one session, one JSON line per stage.
  Default n is 1M docs (semdedup: 100k vectors).
- SOAKS: the operator-level soaks, name -> (default n, function).
  - ivf, pq, ivfpq: one probe harness (uniform corpus, optional
    planted twins as probes, localCheckpoint, count/distinct
    aggregate, planted recall over the probes issued); ann (multiprobe
    LSH at 16+20 bits) and semdedup keep their own bodies.
  - stream, neardup, streamline, streamsubstr: one streaming harness
    (write the input, run the query to termination, check the sink).
  - dedup, linededup, substrdedup (200-way duplication), shardexport,
    trainingprep (the 8-stage prep chain) and amend.

Env:  SPARK_GRAFT_CPUS (default 32), SOAK_DIR (default /tmp/soak),
      SOAK_SMJ=1 disables broadcast joins (autoBroadcastJoinThreshold
      = -1) so every join runs the at-scale sort-merge path,
      SOAK_PLANT=frac appends frac*n noisy twins (cos ~0.994) for
      ann/ivf/pq/ivfpq and reports closed-form planted recall — the
      uniform corpus alone has no genuine near-neighbors,
      SOAK_RECALL=N samples N ann queries for an exact-truth recall@3
      estimate (near zero on the uniform corpus by construction: it
      measures the searched fraction),
      SOAK_NPROBE (semdedup cells probed, default 1),
      SOAK_TOKENCAP=1 runs `run domaincap` as the token-budget variant.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time
from functools import partial
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from pdfio_spark.pipeline import queries as Q  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


class Ctx(NamedTuple):
    """One soak's session, size and private directory (removed after)."""
    spark: object
    n: int
    cpus: int
    dir: str
    smj: bool


def _rate(n: int, dt: float, unit: str = "docs") -> dict:
    return {"sec": round(dt, 1), f"{unit}_per_sec": round(n / dt, 1)}


def _replicas(c: Ctx, extra_cols: tuple = ()):
    """n docs: the sf texts replicated k = ceil(n / base) times under
    distinct doc_ids (bench.replicate_corpus, so soak and bench corpora
    stay comparable)."""
    from bench import replicate_corpus
    base = c.spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    k = max(1, (c.n + base - 1) // base)
    return replicate_corpus(c.spark, SF_DIR, k, extra_cols).limit(c.n)


def _replicated_corpus(c: Ctx, key: str = "url", checkpoint: bool = False):
    """~n-row corpus: the sf texts replicated under distinct keys (url
    doc://<id> or bigint doc_id). Floor-division of the replication
    factor means the count is count*k <= n, not exactly n."""
    tbl = c.spark.read.parquet(f"{SF_DIR}/documents.parquet")
    k = max(1, c.n // max(tbl.count(), 1))
    reps = c.spark.range(k).select(F.col("id").alias("rep"))
    kid = F.col("doc_id") * k + F.col("rep")
    kcol = (F.concat(F.lit("doc://"), kid).alias("url")
            if key == "url" else kid.alias("doc_id"))
    out = (tbl.select("doc_id", "text").crossJoin(reps)
           .select(kcol, "text")
           .limit(c.n).repartition(c.cpus * 2))
    return out.localCheckpoint() if checkpoint else out


def _pdfs(classes=None):
    """Row builder: n replicated texts as PDFs (every fixture class in
    rotation, or only `classes`)."""
    def build(c: Ctx):
        from pdfio_spark.pipeline.job import gen_pdf_corpus
        return gen_pdf_corpus(
            _replicas(c, ("lang",)).select("doc_id", "text"),
            classes=classes)
    return build


def _html(c: Ctx):
    from pdfio_spark.pipeline.html_extract import gen_html_corpus
    return gen_html_corpus(_replicas(c, ("lang",)))


def _uniform_corpus(c: Ctx):
    """Deterministic synthetic vectors: 64 dims from xxhash64 of
    (id, dim), scaled to [-1, 1) — JVM-side, no driver loop. Shared
    by every vector soak so all measure the SAME corpus."""
    dims = ",".join(
        f"cast(xxhash64(id, {i}) % 1000003 as double) / 1000003.0"
        for i in range(64))
    return (c.spark.range(c.n)
            .selectExpr("id as vec_id", f"array({dims}) as embedding")
            .repartition(c.cpus * 2).localCheckpoint())


def _plant_twins(c: Ctx, emb, n_twin: int):
    """Append n_twin noisy twins (0.9*source + 0.1*fresh-noise,
    cos ~ 0.994) for vec_ids [0, n_twin); twin of source v gets
    vec_id v + n, so ground truth is closed-form — the metric
    that reflects ANN quality on near-dup-structured corpora (the
    uniform corpus alone has no genuine near-neighbors: exact-truth
    recall there only measures the searched fraction)."""
    noise = ",".join(
        f"cast(xxhash64(vec_id + {c.n}, {i}) % 1000003 "
        "as double) / 1000003.0" for i in range(64))
    twins = (emb.filter(f"vec_id < {n_twin}")
             .selectExpr(
                 f"vec_id + {c.n} as vec_id",
                 f"zip_with(embedding, array({noise}), "
                 "(b, z) -> 0.9d * b + 0.1d * z) as embedding"))
    return (emb.unionByName(twins)
            .repartition(c.cpus * 2).localCheckpoint())


# ---------------------------------------------------------------- RUNS

class Run(NamedTuple):
    """One STAGES mode through run_job. `build(c)` -> the input rows
    (it may write side inputs under c.dir); `opts` a dict or `opts(c)`;
    `check(c, res)` -> extra JSON fields, run untimed after the job."""
    build: Callable
    opts: dict | Callable | None = None
    check: Callable | None = None
    n: int = 1_000_000


def _soak_run_job(c: Ctx, stage: str) -> dict:
    """Materialize the row's input like a crawl table, time EVERYTHING
    run_job does (transform + both parquet appends), clean up."""
    from pdfio_spark.pipeline.run import run_job
    row = RUNS[stage]
    shutil.rmtree(c.dir, ignore_errors=True)
    inp = f"{c.dir}/in"
    row.build(c).write.parquet(inp)
    n = c.spark.read.parquet(inp).count()
    opts = row.opts(c) if callable(row.opts) else row.opts
    t0 = time.perf_counter()
    r = run_job(c.spark, inp, f"{c.dir}/out", f"{c.dir}/met", mode=stage,
                run_id=f"soak-{stage}", opts=opts)
    dt = time.perf_counter() - t0
    extra = row.check(c, r) if row.check else {}
    shutil.rmtree(c.dir, ignore_errors=True)
    return {"n_docs": n, "written": r["written"],
            "by_status": r["by_status"], **extra, **_rate(n, dt)}


def _extracted(c: Ctx, res) -> dict:
    nbytes = (c.spark.read.parquet(f"{c.dir}/in")
              .agg(F.sum("nbytes")).collect()[0][0])
    return {"ok": res["by_status"].get("ok", 0),
            "corpus_mb": round((nbytes or 0) / 1e6, 1)}


def _sig_opts(c: Ctx) -> dict:
    # every doc is CMS-signed by the packaged leaf identity; the
    # revocation material targets serials OTHER than the signing
    # identities' (serial 1 / the CA under GOOD status), so every row
    # pays the full CMS parse + RSA verify + chain build + CRL scan +
    # OCSP CertID match with no revoked short-circuit
    from pdfio_spark.fixtures import (make_crl, make_ocsp_response,
                                      test_trust_pems)
    return {"trust_pems": [bytes(p) for p in test_trust_pems()],
            "crl_blobs": [make_crl([1])],
            "ocsp_ders": [make_ocsp_response(target="ca", revoked=False)]}


def _wat(c: Ctx):
    # synthetic flattened crawl-metadata rows (the sources.read_wat
    # output shape). All map values JVM-side; the dotted prefix is the
    # PRODUCTION constant, not a copy.
    from pdfio_spark.pipeline.job import _WAT_HTTP as pm
    return (c.spark.range(c.n).selectExpr(
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
        .repartition(c.cpus * 2))


def _pii(c: Ctx):
    # PLANTED pii (email/ssn/ip/phone/clean picked uniformly by url
    # hash, so ~1 in 5 rows stays clean): 8 JVM regex passes per row
    # (4 counts + 4 replaces)
    pii = F.element_at(
        F.array(F.lit(" mail bob@example.com"),
                F.lit(" ssn 123-45-6789"),
                F.lit(" from 10.1.2.3"),
                F.lit(" call (555) 123-4567"), F.lit("")),
        (F.xxhash64("url") % 5 + 5).cast("int") % 5 + 1)
    return _replicated_corpus(c).select(
        "url", F.concat("text", pii).alias("text"))


def _urls(c: Ctx):
    # synthetic crawl URLs over a 1000-host pool (id-hash scheme/
    # subdomain/port/fragment variation so every parse branch runs)
    return (c.spark.range(c.n).selectExpr(
        "concat(element_at(array('https', 'http'), "
        "cast(id % 2 + 1 as int)), '://', "
        "element_at(array('', 'www.', 'cdn.'), "
        "cast(id % 3 + 1 as int)), "
        "'site', cast(id % 1000 as string), '.example.com"
        "', element_at(array('', ':443', ':8080'), "
        "cast(id % 3 + 1 as int)), "
        "'/page/', cast(id as string), "
        "element_at(array('', '#frag', '?q=casino'), "
        "cast(id % 5 % 3 + 1 as int))) as url")
        .repartition(c.cpus * 2))


def _decontam(c: Ctx):
    # benchmark = 25 of the base texts verbatim: every replica of those
    # shares all its 13-grams with the eval set, so planted
    # contamination is a 25/base LOWER bound on the drop fraction (the
    # formulaic sf texts also share a few NATURAL 13-gram spans —
    # measured 5,400 dropped vs 5,000 planted at 1M, the +400 are true
    # positives)
    (c.spark.read.parquet(f"{SF_DIR}/documents.parquet")
     .orderBy("doc_id").limit(25).select("text")
     .write.parquet(f"{c.dir}/bench"))
    return _replicated_corpus(c)


def _domaincap(c: Ctx):
    # HALF the corpus lands on one registrable domain (site0.com), the
    # rest spreads over 500 odd-numbered sites (~n/1000 docs each) — a
    # naive per-domain row_number would rank n/2 rows in ONE task; the
    # bucket decomposition spreads them over 1024 (domain, bucket)
    # groups. www. subdomains exercise the registrable collapse. A
    # first calibration on site*.example.com hosts collapsed every row
    # to ONE registrable domain and ranked all 1M rows in 12 s (kept
    # exactly 1000): the total-skew extreme, without a straggler. Docs
    # weigh 5-14 tokens (id-hash) for the token-budget variant.
    return (c.spark.range(c.n).selectExpr(
        "concat('https://www.site', "
        "case when id % 2 = 0 then 0 else id % 1000 end, "
        "'.com/doc/', id) as url",
        "array_join(transform(sequence(1, "
        "cast(5 + pmod(xxhash64(id), 10) as int)), "
        "x -> 'tok'), ' ') as text")
        .repartition(c.cpus * 2))


def _domaincap_opts(c: Ctx) -> dict:
    # cap=1000 -> kept = 1000 (site0 capped) + the tail; SOAK_TOKENCAP=1:
    # a 10k-token budget per domain, the weighted histogram + second
    # window over the same (domain, bucket) partitioning
    if os.environ.get("SOAK_TOKENCAP") == "1":
        return {"max_per_domain": None, "max_tokens_per_domain": 10_000}
    return {"max_per_domain": 1000}


def _fixture_urls(fixture):
    """Row builder: a sub-document dedup fixture over the 200-way
    replicated corpus, keyed by url."""
    def build(c: Ctx):
        return fixture(_replicated_corpus(c, key="doc_id")).select(
            F.concat(F.lit("doc://"), "doc_id").alias("url"), "text")
    return build


def _semdedup(c: Ctx):
    emb = _plant_twins(c, _uniform_corpus(c), c.n // 10)
    return emb.select(
        F.concat(F.lit("doc://"), F.col("vec_id")).alias("url"),
        "embedding")


def _mix(c: Ctx):
    # urls over 1000 DISTINCT registrable domains (site{i}.com — NOT
    # site{i}.example.com, which all share one registrable domain)
    return (c.spark.range(c.n).selectExpr(
        "concat('https://www.site', cast(id % 1000 as string), "
        "'.com/page/', cast(id as string)) as url")
        .repartition(c.cpus * 2))


# 100 domains weighted 0.0 (drop), 100 weighted 2.5 (epoch upsample),
# the rest default 1.0: closed-form class counts
_MIX_WEIGHTS = {**{f"site{i}.com": 0.0 for i in range(100)},
                **{f"site{i}.com": 2.5 for i in range(100, 200)}}


def _mix_check(c: Ctx, res) -> dict:
    bs = res["by_status"]
    want = c.n // 10  # 100 of 1000 domains per class
    assert bs.get("dropped", 0) == want, bs
    assert bs.get("upsampled", 0) == want, bs
    assert bs.get("kept", 0) == c.n - 2 * want, bs
    n_out = (c.spark.read.parquet(f"{c.dir}/met")
             .agg(F.sum("n_copies_out")).collect()[0][0])
    return {"n_copies_out": int(n_out)}


def _dedupref(c: Ctx):
    # n new docs against an n-doc frozen reference: 80% fresh (disjoint
    # 20-word synthetic texts), 10% exact copies of reference texts
    # (closed-form exact_dup), 10% near copies (last word swapped:
    # 17/18 shingles shared — near_dup via the band kernel). The
    # daily-crawl shape: the reference shuffles only 8-byte hash keys
    # + distinct band keys.
    def words(seed, n=20, last_seed=None):
        parts = [f"concat('w', pmod(xxhash64(id, {seed}, {j}), "
                 "100000))" for j in range(n)]
        if last_seed is not None:
            parts[-1] = (f"concat('w', pmod(xxhash64(id, "
                         f"{last_seed}, {n - 1}), 100000))")
        return "concat_ws(' ', " + ", ".join(parts) + ")"

    def docs(n, prefix, text):
        return c.spark.range(n).selectExpr(
            f"concat('{prefix}://', id) as url", f"{text} as text")

    n_plant = c.n // 10
    (docs(c.n, "ref", words(1)).repartition(c.cpus * 2)
     .write.parquet(f"{c.dir}/ref"))
    return (docs(c.n - 2 * n_plant, "new", words(2))
            .unionByName(docs(n_plant, "ex", words(1)))
            .unionByName(docs(n_plant, "nr", words(1, last_seed=9)))
            .repartition(c.cpus * 2))


def _dedupref_check(c: Ctx, res) -> dict:
    bs = res["by_status"]
    n_plant = c.n // 10
    # a near plant whose swapped last word collides with the original
    # (P = 1/vocab = 1e-5 per doc) IS byte-identical — it legitimately
    # lands exact_dup, so the bound is a small tolerance above the
    # planted count, not equality
    assert n_plant <= bs.get("exact_dup", 0) <= n_plant + 20, bs
    near_frac = (c.spark.read.parquet(f"{c.dir}/out")
                 .filter("url like 'nr://%' and status = 'near_dup'")
                 .count() / max(n_plant, 1))
    # the band kernel must actually catch the 1-word-in-20 edits; fresh
    # docs never collide (disjoint shingle vocab draws)
    assert n_plant == 0 or near_frac >= 0.95, near_frac
    assert bs.get("kept", 0) >= c.n - 2 * n_plant, bs
    return {"planted_near_frac": round(near_frac, 3)}


def _urldedup(c: Ctx):
    # every odd url is a #fragment recrawl of its even sibling ->
    # exactly half collapse; keeper = the fragment-less raw min
    return (c.spark.range(c.n).selectExpr(
        "concat('https://site', "
        "cast(floor(id / 2) % 1000 as string), "
        "'.com/p/', cast(floor(id / 2) as string), "
        "case when id % 2 = 1 then '#frag' else '' end) as url")
        .repartition(c.cpus * 2))


def _urldedup_check(c: Ctx, res) -> dict:
    bs = res["by_status"]
    assert bs.get("kept", 0) == c.n // 2 + c.n % 2, bs
    assert bs.get("url_dup", 0) == c.n // 2, bs
    return {}


# one row per run.py STAGES mode, in its order
RUNS: dict[str, Run] = {
    "pdf": Run(_pdfs(), check=_extracted),
    "html": Run(_html, check=_extracted),
    "wet": Run(_replicated_corpus),
    "wat": Run(_wat),
    # the 200-way-duplicated corpus through url-keyed decisions
    "dedup": Run(_replicated_corpus),
    "sigaudit": Run(_pdfs(["signed_chain"]), _sig_opts, _extracted),
    # thresholds fitted to the synthetic corpus (16-65-word texts with
    # small vocabularies — Gopher web defaults drop 100% of them): the
    # mix keeps ~half, so both decision paths and every reason counter
    # run
    "filter": Run(_replicated_corpus,
                  {"min_words": 30, "max_dup_word_frac": 0.55}),
    "pii": Run(_pii),
    # 100 of the 1000 hosts blocklisted + a bad token
    "urlfilter": Run(_urls, {"blocked_domains": [
        f"site{i}.example.com" for i in range(100)],
        "blocked_tokens": ["casino"]}),
    "decontam": Run(_decontam,
                    lambda c: {"benchmark_path": f"{c.dir}/bench"}),
    "domaincap": Run(_domaincap, _domaincap_opts),
    "linededup": Run(_fixture_urls(Q.line_dedup_fixture)),
    "substrdedup": Run(_fixture_urls(Q.substr_dedup_fixture)),
    # 10% planted twins (cos~0.994 > tau=0.95)
    "semdedup": Run(_semdedup, {"k": 256, "tau": 0.95, "train_frac": 0.1},
                    n=100_000),
    "mix": Run(_mix, {"weights": _MIX_WEIGHTS}, _mix_check),
    "dedupref": Run(_dedupref,
                    lambda c: {"reference_path": f"{c.dir}/ref"},
                    _dedupref_check),
    "urldedup": Run(_urldedup, check=_urldedup_check),
}


# --------------------------------------------------------------- SOAKS

def _ann(c: Ctx) -> dict:
    """Multiprobe LSH top-k at the AT-SCALE bit widths (16 coarse + 20
    fine hyperplanes instead of the registry's 8+12): occupancy is
    ~n/2^bits, so bits must grow with log2(n) to hold per-bucket and
    per-probe candidate work constant. Wider planes come from the
    registry's OWN generator (md5-per-coefficient: a correlated
    counter-hash code collapsed into ~9k of 65k buckets at 16 bits,
    BENCH/BASELINE.md 'bits-scale-with-n')."""
    emb = _uniform_corpus(c)
    n_twin = int(c.n * float(os.environ.get("SOAK_PLANT", "0")))
    if n_twin:
        # ~3.5%/bit sign-flip probability at random hyperplanes for the
        # 0.9/0.1 mix
        emb = _plant_twins(c, emb, n_twin)
    n_sample = int(os.environ.get("SOAK_RECALL", "0"))
    t0 = time.perf_counter()
    out = Q.ann_lsh_topk_over(emb,
                              coarse_planes=Q._hyperplanes(16, tag="c"),
                              fine_planes=Q._hyperplanes(20, tag="f"))
    if n_twin or n_sample:
        # the recall blocks take MORE actions over `out`: pin it so the
        # salted join + top-k runs exactly once (inside the timed
        # window: same work, measured once)
        out = out.localCheckpoint()
    # both aggregates in ONE pass — a second .count() would re-run the
    # whole salted join + top-k
    n_rows, with_nn = out.agg(F.count("*"),
                              F.countDistinct("vec_id")).collect()[0]
    dt = time.perf_counter() - t0
    res = {"n_vectors": c.n, "bits": [16, 20], "topk_rows": int(n_rows),
           "vectors_with_neighbors": int(with_nn),
           **_rate(c.n, dt, "vectors")}
    if n_twin:
        # a twin's SOURCE in its top-3 = hit (by symmetry the
        # source->twin direction is the same event; counting one
        # direction keeps the denominator exact)
        found = (out.filter(F.col("vec_id") >= c.n)
                 .filter(F.col("nn_id") == F.col("vec_id") - c.n)
                 .select("vec_id").distinct().count())
        res["planted_twins"] = n_twin
        res["planted_recall_at_3"] = round(found / n_twin, 3)
    if n_sample:
        # exact top-3 ground truth for a deterministic sample of
        # queries (tiny side BROADCAST against the full corpus —
        # n_sample x n exact cosines, the brute-force shape the LSH
        # operator exists to avoid), excluded from the timing. The
        # clamp keeps the step >= 1 when SOAK_RECALL > n.
        from pyspark.sql.window import Window
        step = max(1, c.n // n_sample)
        qs = (emb.filter(F.pmod(F.col("vec_id"), F.lit(step)) == 0)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_emb")))
        dot = F.aggregate(
            F.zip_with(F.col("q_emb"), F.col("embedding"),
                       lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
        nrm = lambda col: F.sqrt(F.aggregate(  # noqa: E731
            F.transform(col, lambda x: x.cast("double")
                        * x.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v))
        sim = dot / (nrm(F.col("q_emb")) * nrm(F.col("embedding")))
        w = Window.partitionBy("q_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
        truth = (emb.crossJoin(F.broadcast(qs))
                 .filter(F.col("vec_id") != F.col("q_id"))
                 .select("q_id", "vec_id", sim.alias("sim"))
                 .withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") <= 3)
                 .select("q_id", F.col("vec_id").alias("nn_id"))
                 .localCheckpoint())  # hits join + denom count
        got = (out.join(qs.select(F.col("q_id").alias("vec_id")),
                        "vec_id").select("vec_id", "nn_id"))
        hits = truth.join(got, (truth.q_id == got.vec_id)
                          & (truth.nn_id == got.nn_id)).count()
        res["recall_sample_queries"] = int(qs.count())
        res["recall_at_3"] = round(hits / max(truth.count(), 1), 3)
    return res


def _probe_soak(op: Callable, every: int, params: dict) -> Callable:
    """The ivf/pq/ivfpq soak: `op(emb, **params)` over the uniform
    corpus with SAMPLED training (train_frac=0.1 — centroid and
    codebook quality needs ~1000x K training points, not the corpus).
    With SOAK_PLANT, every `every`-th twin is a probe and the planted
    recall@5 asks whether its source is in the probe's top-5. Its
    denominator is the probes ISSUED, not countDistinct(q_id) of the
    output: a probe whose pruned cells are empty returns zero rows and
    would silently drop out of an output-derived denominator, inflating
    recall exactly when pruning misses."""
    def soak(c: Ctx) -> dict:
        emb = _uniform_corpus(c)
        n_twin = int(c.n * float(os.environ.get("SOAK_PLANT", "0")))
        probes = None
        if n_twin:
            emb = _plant_twins(c, emb, n_twin)
            probes = ((F.col("vec_id") >= c.n)
                      & ((F.col("vec_id") - c.n) % every == 0))
        t0 = time.perf_counter()
        out = op(emb, probe_filter=probes, **params)
        if n_twin:
            # the recall count is a second action over `out`: pin it so
            # training + search run once, inside the timed window
            out = out.localCheckpoint()
        rows, answered = out.agg(F.count("*"),
                                 F.countDistinct("q_id")).collect()[0]
        dt = time.perf_counter() - t0
        res = {"n_vectors": c.n, **params, "topk_rows": int(rows),
               "queries": int(answered), **_rate(c.n, dt, "vectors")}
        if n_twin:
            found = (out.filter(F.col("vec_id") == F.col("q_id") - c.n)
                     .select("q_id").distinct().count())
            issued = (n_twin + every - 1) // every
            res.update(planted_twins=n_twin, probes_issued=issued,
                       answered_queries=int(answered),
                       planted_recall_at_5=round(found / max(issued, 1),
                                                 3))
        return res
    return soak


def _semdedup_op(c: Ctx) -> dict:
    """SemDeDup over n vectors + 10% planted twins (cos~0.994 >
    tau=0.95): closed-form truth is one collapsed pair per twin UNLESS
    the pair straddles a Lloyd cell boundary — within-cluster-only
    comparison is SemDeDup's documented recall trade, so the collapse
    fraction is the reported metric. k=256 ~ sqrt(n/2), the cost
    balance point (assignment n*k vs pairs n^2/2k)."""
    nprobe = int(os.environ.get("SOAK_NPROBE", "1"))
    n_twin = c.n // 10
    emb = _plant_twins(c, _uniform_corpus(c), n_twin)
    t0 = time.perf_counter()
    out = Q.semdedup_over(emb, k=256, tau=0.95, train_frac=0.1,
                          nprobe=nprobe).localCheckpoint()
    total, n_kept = out.agg(
        F.count("*"), F.sum(F.col("is_kept").cast("long"))).collect()[0]
    dt = time.perf_counter() - t0
    src = (out.filter(F.col("vec_id") < n_twin)
           .select(F.col("vec_id").alias("s_id"),
                   F.col("keep_id").alias("s_keep")))
    tw = (out.filter(F.col("vec_id") >= c.n)
          .select((F.col("vec_id") - c.n).alias("s_id"),
                  F.col("keep_id").alias("t_keep")))
    collapsed = src.join(tw, "s_id").filter("s_keep = t_keep").count()
    assert total == c.n + n_twin  # one decision per vector
    # uniform vectors have no chance >0.95 pairs (cos std ~ 1/8):
    # every drop must come from a collapsed planted pair
    assert int(n_kept) == total - collapsed
    return {"n_vectors": c.n, "k": 256, "tau": 0.95, "train_frac": 0.1,
            "nprobe": nprobe, "planted_twins": n_twin,
            "n_kept": int(n_kept), "collapsed_pairs": collapsed,
            "planted_collapse_frac": round(collapsed / n_twin, 3),
            **_rate(c.n + n_twin, dt, "vectors")}


def _streamed(setup: Callable) -> Callable:
    """The streaming soak harness: `setup(c)` -> (input rows,
    start(spark, in, checkpoint, out) -> query, check(query, in, out)
    -> JSON fields). Writes the input in 64 files, times the query to
    termination, runs the check untimed, cleans up."""
    def soak(c: Ctx) -> dict:
        docs, start, check = setup(c)
        inp, chk, out = (f"{c.dir}/{p}" for p in ("in", "chk", "out"))
        shutil.rmtree(c.dir, ignore_errors=True)
        docs.repartition(64).write.parquet(inp)
        n = c.spark.read.parquet(inp).count()
        t0 = time.perf_counter()
        q = start(c.spark, inp, chk, out)
        q.awaitTermination()
        dt = time.perf_counter() - t0
        res = {"n_docs": n, **check(q, inp, out), **_rate(n, dt)}
        shutil.rmtree(c.dir, ignore_errors=True)
        return res
    return soak


def _stream(c: Ctx):
    """The SAME extraction kernel behind readStream/writeStream with an
    exactly-once checkpoint (stream_stage("pdf"), maxFilesPerTrigger
    micro-batches): the Structured Streaming overhead vs the batch
    path."""
    from pdfio_spark.pipeline.job import gen_pdf_corpus
    from pdfio_spark.pipeline.streaming import stream_stage

    def check(q, inp, out):
        n_ok = c.spark.read.parquet(out).filter("status = 'ok'").count()
        return {"ok": n_ok, "micro_batches":
                q.lastProgress["batchId"] + 1 if q.lastProgress else None}
    return (gen_pdf_corpus(_replicas(c)),
            lambda s, *p: stream_stage(s, "pdf", *p), check)


def _neardup(c: Ctx):
    """k-way-duplicated texts + 10% twins through stream_neardup: every
    band bucket contested by ~k docs (the seen-set contention stress);
    correct output keeps ~one url per distinct text."""
    from pdfio_spark.pipeline.streaming import (neardup_keep_decisions,
                                                stream_neardup)
    docs = _replicas(c).selectExpr("concat('doc://', doc_id) AS url",
                                   "text")
    twins = (docs.limit(c.n // 10)
             .selectExpr("concat(url, '-twin') AS url", "text"))

    def check(q, inp, out):
        dec = neardup_keep_decisions(c.spark, out)
        return {"decisions": dec.count(),
                "flagged": dec.filter("NOT keep").count()}
    return docs.unionByName(twins), stream_neardup, check


def _streamline(c: Ctx):
    """The url-keyed multi-line fixture (run linededup's input, 200-way
    duplicated) through stream_stage("linededup"): every body line's
    GroupState contested by ~200 replicas, the header line by the whole
    corpus. The corpus-global KEPT COUNT is order-independent even
    though which copy wins is arrival order, so the STAGES op on the
    same input is the truth."""
    from pdfio_spark.pipeline.run import STAGES
    from pdfio_spark.pipeline.streaming import stream_stage

    def check(q, inp, out):
        agg = (Q.line_dedup_reassemble(c.spark.read.parquet(out))
               .agg(F.sum("n_lines").alias("lines"),
                    F.sum("n_kept").alias("kept")).collect()[0])
        bk = (STAGES["linededup"].op(c.spark.read.parquet(inp))
              .agg(F.sum("n_kept")).collect()[0][0])
        return {"lines": int(agg["lines"]), "kept_lines": int(agg["kept"]),
                "batch_kept_lines": int(bk)}
    return (_fixture_urls(Q.line_dedup_fixture)(c),
            lambda s, *p: stream_stage(s, "linededup", *p), check)


def _streamsubstr(c: Ctx):
    """The url-keyed span-planting fixture (run substrdedup's input,
    200-way duplicated) through stream_stage("substrdedup"): every body
    gram's GroupState contested by ~200 replicas, the header passage's
    by the whole corpus (the hot-key shape the chunk-wise decide_fn
    exists for). One state row per TOKEN position, ~10x the line soak's
    volume per doc."""
    from pdfio_spark.pipeline.run import STAGES
    from pdfio_spark.pipeline.streaming import stream_stage

    def check(q, inp, out):
        src = c.spark.read.parquet(inp)
        # the twin's doc id
        docs = src.select(F.xxhash64("url").alias("doc_id"), "text")
        sink = c.spark.read.parquet(out)
        dup = sink.filter("NOT kept").select("doc_id", "pos")
        agg = (Q.substr_dedup_reassemble(docs, dup)
               .agg(F.sum("n_tokens").alias("tokens"),
                    F.sum("n_kept").alias("kept")).collect()[0])
        # the order-independent invariant: exactly ONE kept gram row
        # per distinct gram, whatever the arrival order. The kept TOKEN
        # total is NOT order-independent under multi-batch arrival
        # (which copy of two OVERLAPPING grams survives changes the
        # interval gaps): the batch total sits beside it for the drift
        kept_grams = sink.filter("kept").count()
        distinct_grams = (Q.substr_gram_melt(docs).select("g")
                          .distinct().count())
        assert kept_grams == distinct_grams, (kept_grams, distinct_grams)
        bk = (STAGES["substrdedup"].op(src)
              .agg(F.sum("n_kept")).collect()[0][0])
        return {"tokens": int(agg["tokens"]), "kept_grams": kept_grams,
                "distinct_grams": distinct_grams,
                "kept_tokens": int(agg["kept"]),
                "batch_kept_tokens": int(bk)}
    return (_fixture_urls(Q.substr_dedup_fixture)(c),
            lambda s, *p: stream_stage(s, "substrdedup", *p), check)


def _dedup(c: Ctx) -> dict:
    """n docs with 200-way exact duplication (the clique stress) through
    dedup_keep_list, whose exact-first ordering is the point."""
    docs = _replicated_corpus(c, key="doc_id", checkpoint=True)
    n = docs.count()
    t0 = time.perf_counter()
    out = Q.dedup_keep_list(docs)
    n_rows = out.count()
    n_kept = out.filter("is_kept").count()
    dt = time.perf_counter() - t0
    return {"n_docs": n, "rows": n_rows, "kept": n_kept, **_rate(n, dt)}


def _subdoc(fixture: Callable, over: Callable, floor: int) -> Callable:
    """The two sub-document dedup granularities over 200-way
    duplication: after the fixture rendering every replica's body
    lines/grams duplicate 200x, the header line/passage occurs n times,
    footers n/7 — the hot-key partial aggregation (a boilerplate line
    collapses map-side) and the interval-merge fast path (replicas
    strip fully) both under stress. A fully-deduped replica keeps
    `floor` units (line dedup: blank structural lines always pass)."""
    def soak(c: Ctx) -> dict:
        docs = _replicated_corpus(c, key="doc_id", checkpoint=True)
        n = docs.count()
        t0 = time.perf_counter()
        agg = (over(fixture(docs))
               .agg(F.count("*").alias("rows"),
                    F.sum((F.col("n_kept") <= floor).cast("long"))
                    .alias("stripped"),
                    F.sum("n_kept").alias("kept_units")).collect()[0])
        dt = time.perf_counter() - t0
        return {"n_docs": n, "rows": agg["rows"],
                "fully_stripped": int(agg["stripped"]),
                "kept_units": int(agg["kept_units"]), **_rate(n, dt)}
    return soak


def _shardexport(c: Ctx) -> dict:
    """The terminal shuffle-and-shard writer: one full shuffle (the
    permutation), map-side sort, one sorted file per shard dir."""
    from pdfio_spark.pipeline.job import shard_export
    inp, out, shards = f"{c.dir}/in", f"{c.dir}/out", 64
    shutil.rmtree(c.dir, ignore_errors=True)
    _replicated_corpus(c).write.parquet(inp)
    src = c.spark.read.parquet(inp)
    n = src.count()
    t0 = time.perf_counter()
    shard_export(src, out, n_shards=shards)
    dt = time.perf_counter() - t0
    sizes = [r["n"] for r in c.spark.read.parquet(out).groupBy("shard")
             .agg(F.count("*").alias("n")).collect()]
    assert sum(sizes) == n and len(sizes) == shards
    files = sum(1 for s in range(shards)
                for f in os.listdir(f"{out}/shard={s}")
                if f.endswith(".parquet"))
    shutil.rmtree(c.dir, ignore_errors=True)
    return {"n_docs": n, "n_shards": shards, "files": files,
            "shard_min": min(sizes), "shard_max": max(sizes),
            **_rate(n, dt)}


def _trainingprep(c: Ctx) -> dict:
    """The COMPOSED prep chain a training-data team runs, 200-way
    duplication, cheap-to-expensive stage order (filter-then-dedup):
      1. URL gate         (before any content parse; 5% of the host
                           pool blocklisted)
      2. PII scrub        (map-only regexes)
      3. quality gate     (map-only metric exprs, tuned to the
                           synthetic corpus like run filter)
      4. decontamination  (gram melt + broadcast eval probe)
      5. substring dedup  (k-gram melt + islands; duplicated spans
                           stripped, doc bodies survive)
      6. doc-level dedup  (exact-first keep list over the span-stripped
                           text)
      7. mixture weights  (epoch upsampling of the survivors — rate 2.0
                           keeps the count closed-form)
      8. shard export     (the terminal permutation writer)
    Each map stage shrinks or shields what the shuffle stages see; one
    wall-clock for the whole chain is the number that matters."""
    from pdfio_spark.pipeline.job import (decontam_decisions, mix_apply,
                                          mix_decisions, pii_scrub_over,
                                          quality_decisions, shard_export,
                                          url_filter_decisions)
    spark = c.spark
    base = _replicated_corpus(c, checkpoint=True)
    # crawl-shaped urls (the doc:// id rides in the path so the dedup
    # stage can recover a numeric doc_id later); ~5% of the host pool
    # blocklisted
    docs = base.select(
        F.concat(F.lit("https://site"),
                 (F.xxhash64("url") % 500 + 500) % 500,
                 F.lit(".example.com/doc/"),
                 F.substring("url", 7, 20)).alias("url"), "text")
    blocked = [f"site{i}.example.com" for i in range(0, 500, 20)]
    bench = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
             .orderBy("doc_id").limit(25).select("text")
             .localCheckpoint())
    n = docs.count()
    t0 = time.perf_counter()
    passed_url = (url_filter_decisions(docs, blocked_domains=blocked)
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
             .join(scrubbed, "url").select("url", "text")
             .localCheckpoint())
    n_gated = gated.count()
    # numeric id recovered from the url path (cheaper than a hash and
    # deterministic). Decontam's melt consumes gated once more — the
    # checkpoint above shields the gate lineage.
    cleanu = (decontam_decisions(gated, bench)
              .filter(F.col("status") == "kept")
              .select(F.regexp_extract("url", r"/doc/(\d+)", 1)
                      .cast("long").alias("doc_id"), "url", "text")
              # substr dedup consumes its input on BOTH sides of the
              # gram self-join — cut the decontam lineage once
              .localCheckpoint())
    n_clean = cleanu.count()
    urlmap = cleanu.select("doc_id", "url")
    span = (Q.substr_dedup_over(cleanu.select("doc_id", "text"))
            .select("doc_id", F.col("text_out").alias("text"))
            .localCheckpoint())
    n_span_docs = span.filter(F.length("text") > 0).count()
    keep = Q.dedup_keep_list(span)
    # the assembled training set: kept survivors with body text, urls
    # recovered for the mixture stage
    final = (span.join(keep.filter("is_kept").select("doc_id"), "doc_id")
             .filter(F.length("text") > 0)
             .join(urlmap, "doc_id")
             .select("url", "text").localCheckpoint())
    n_kept = final.count()
    # 7. epoch upsampling at rate 2.0 (integer rate -> exactly 2 copies)
    # + 8. the terminal shard writer, copies spread by (url, copy)
    mixd = mix_decisions(final.select("url"), weights={"example.com": 2.0})
    out = f"{c.dir}/shards"
    shutil.rmtree(c.dir, ignore_errors=True)
    shard_export(mix_apply(final, mixd), out, n_shards=32,
                 key_cols=("url", "copy"))
    n_exported = spark.read.parquet(out).count()
    dt = time.perf_counter() - t0
    assert n_exported == 2 * n_kept, (n_exported, n_kept)
    shutil.rmtree(c.dir, ignore_errors=True)
    return {"n_docs": n, "after_url": n_url, "after_quality": n_gated,
            "after_decontam": n_clean,
            "nonempty_after_span_dedup": n_span_docs,
            "final_kept": n_kept, "exported_rows": n_exported,
            **_rate(n, dt)}


def _amend(c: Ctx) -> dict:
    """Distributed incremental amendment: every doc carries /Info
    (classes pinned) so each row pays the full parse + append-section
    serialize — the operator's real per-doc cost, not the
    empty-passthrough shortcut."""
    from pdfio_spark.pipeline.job import append_updates, info_stamp
    path = f"{c.dir}/corpus"
    shutil.rmtree(c.dir, ignore_errors=True)
    _pdfs(["with_info"])(c).write.parquet(path)
    corpus = c.spark.read.parquet(path)
    n = corpus.count()
    nbytes = corpus.agg(F.sum("nbytes")).collect()[0][0]
    # fan out: a parquet-file partitioning is byte-based; the UDF cost
    # is per-row CPU (CLAUDE.md perf lesson)
    corpus = corpus.repartition(c.cpus * 4)
    t0 = time.perf_counter()
    out = append_updates(corpus, info_stamp({"Processor": "pdfio-spark-soak"}))
    statuses = {r["status"]: r["c"] for r in
                out.groupBy("status").agg(F.count("*").alias("c")).collect()}
    dt = time.perf_counter() - t0
    shutil.rmtree(c.dir, ignore_errors=True)
    return {"n_docs": n, "ok": statuses.get("ok", 0),
            "corpus_mb": round((nbytes or 0) / 1e6, 1), **_rate(n, dt),
            "statuses": statuses}


# name -> (default n, soak)
SOAKS: dict[str, tuple[int, Callable]] = {
    "ann": (100_000, _ann),
    # IVF: K=64 cells, nprobe=8, Lloyd over a 10% slice
    "ivf": (100_000, _probe_soak(Q.ann_ivf_over, 1, {
        "k": 64, "nprobe": 8, "train_frac": 0.1})),
    # PQ: 4 subspaces x 16 codes (2 bytes/vector), ADC over the codes,
    # exact cosine only on the rerank*topk shortlist. Every 10th twin
    # probes (~1k at 100k): ADC is a full code scan PER QUERY, so 10k
    # probes would be 1.1B window rows for no extra statistical power
    "pq": (100_000, _probe_soak(Q.ann_pq_topk_over, 10, {
        "subspaces": 4, "codes": 16, "rerank": 16, "train_frac": 0.1})),
    # IVF-PQ (the 10^12 composition): 64 cells prune candidates to
    # nprobe/cells = 12.5%, residual PQ codes score them
    "ivfpq": (100_000, _probe_soak(Q.ann_ivfpq_topk_over, 10, {
        "cells": 64, "nprobe": 8, "subspaces": 4, "codes": 16,
        "rerank": 16, "train_frac": 0.1})),
    "semdedup": (100_000, _semdedup_op),
    "stream": (100_000, _streamed(_stream)),
    "neardup": (100_000, _streamed(_neardup)),
    "streamline": (100_000, _streamed(_streamline)),
    "streamsubstr": (100_000, _streamed(_streamsubstr)),
    "dedup": (1_000_000, _dedup),
    "linededup": (1_000_000, _subdoc(Q.line_dedup_fixture,
                                     Q.line_dedup_over, 1)),
    "substrdedup": (1_000_000, _subdoc(Q.substr_dedup_fixture,
                                       Q.substr_dedup_over, 0)),
    "shardexport": (1_000_000, _shardexport),
    "trainingprep": (1_000_000, _trainingprep),
    "amend": (1_000_000, _amend),
}


def _jobs(argv: list) -> list:
    """[(label, n, soak)] for the command line; any other name exits
    with the valid ones before a session starts."""
    name, rest = (argv[0], argv[1:]) if argv else ("run", ["pdf"])
    if name == "run" and rest:
        stages = list(RUNS) if rest[0] == "all" else rest[:1]
        n = rest[1:2]
        if set(stages) <= set(RUNS):
            return [(f"run {s}", int(float(n[0])) if n else RUNS[s].n,
                     partial(_soak_run_job, stage=s)) for s in stages]
    elif name in SOAKS:
        n, soak = SOAKS[name]
        return [(name, int(float(rest[0])) if rest else n, soak)]
    sys.exit(f"usage: soak.py run <{'|'.join(RUNS)}|all> [n_docs]\n"
             f"       soak.py <{'|'.join(SOAKS)}> [n_docs]")


def main(argv: list | None = None) -> None:
    jobs = _jobs(sys.argv[1:] if argv is None else argv)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    soak_dir = os.environ.get("SOAK_DIR", "/tmp/soak")
    smj = os.environ.get("SOAK_SMJ") == "1"
    from pdfio_spark.pipeline.session import get_spark
    spark = get_spark(cpus=cpus, app="pdfio_soak")
    spark.sparkContext.setLogLevel("ERROR")
    if smj:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for label, n, soak in jobs:
        c = Ctx(spark, n, cpus,
                os.path.join(soak_dir, label.replace(" ", "_")), smj)
        print(json.dumps({"mode": label, "smj": smj, **soak(c)}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
