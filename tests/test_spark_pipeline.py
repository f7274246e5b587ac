"""Spark-plane integration tests: extraction job, resume anti-join,
streaming ingestion. One shared local session (slow-marked but part of
the gate — the driver's pytest run is the correctness check)."""
import os
import shutil
import sys
import tempfile

import pytest

pyspark = pytest.importorskip("pyspark")

from pdfio_spark.pipeline.job import (extract_pdfs, gen_pdf_corpus,
                                      resume_filter)
from pdfio_spark.pipeline.run import lineage
from pdfio_spark.pipeline.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cpus=4, app="pdfio_spark_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(60)
    c = gen_pdf_corpus(docs).cache()
    c.count()
    return c


def test_extraction_all_ok(spark, corpus):
    ext = extract_pdfs(corpus)
    rows = ext.groupBy("status").count().collect()
    assert {r["status"] for r in rows} == {"ok"}


def test_extraction_metrics(spark, corpus):
    m = lineage(extract_pdfs(corpus), "pdf", "t").collect()
    assert sum(r["n_docs"] for r in m) == 60
    assert all(r["n_ok"] == r["n_docs"] for r in m)


def test_resume_antijoin(spark, corpus):
    done = corpus.select("url").limit(20)
    remaining = resume_filter(corpus, done)
    assert remaining.count() == 40


def test_streaming_extract(spark, corpus):
    from pdfio_spark.pipeline.streaming import stream_stage
    tmp = tempfile.mkdtemp(prefix="pdfio_stream_")
    try:
        inp, chk, outp = (os.path.join(tmp, d) for d in
                          ("in", "chk", "out"))
        corpus.write.parquet(inp)
        q = stream_stage(spark, "pdf", inp, chk, outp)
        q.awaitTermination(120)
        out = spark.read.parquet(outp)
        assert out.count() == 60
        assert out.filter("status = 'ok'").count() == 60
        # exactly-once resume: restarting with the same checkpoint
        # processes nothing new
        q2 = stream_stage(spark, "pdf", inp, chk, outp)
        q2.awaitTermination(60)
        assert spark.read.parquet(outp).count() == 60
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cc_table_schema(spark):
    """Input-hint schema (url, warc_ts, html, text, lang) end-to-end."""
    from pdfio_spark.pipeline.run import make_cc_table
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(20)
    cc = make_cc_table(docs, classes=["flate_simple"])
    assert [f.name for f in cc.schema.fields] == \
        ["url", "warc_ts", "html", "text", "lang"]
    from pdfio_spark.pipeline.job import extract_pdfs
    ext = extract_pdfs(cc.select("url", "html"))
    assert ext.filter("status = 'ok'").count() == 20


def test_append_updates_distributed(spark):
    """Distributed incremental update (r6): info_stamp amends /Info
    via an appended section — original bytes stay a byte PREFIX of
    every amended document (signed ranges intact), text extraction is
    unchanged, no-/Info docs pass through byte-identical, garbage
    quarantines row-local."""
    from pdfio_spark.fixtures import build_fixture
    from pdfio_spark.pipeline.job import append_updates, info_stamp
    rows = [("u0", bytearray(build_fixture("with_info",
                                           ["Stamped doc body"]))),
            ("u1", bytearray(build_fixture("flate_simple",
                                           ["No info dict here"]))),
            ("u2", bytearray(b"%PDF-garbage not a real pdf"))]
    corpus = spark.createDataFrame(rows, "url string, html binary")
    for style in ("classic", "xrefstm"):
        out = {r["url"]: r for r in append_updates(
            corpus, info_stamp({"Processor": "pdfio-spark-r6"}),
            style=style).collect()}
        assert out["u0"]["status"] == "ok"
        src = bytes(rows[0][1])
        amended = bytes(out["u0"]["html"])
        assert amended[:len(src)] == src  # byte prefix
        from pdfio_spark.cos.doc import CosDoc
        from pdfio_spark.cos.objects import Name, str_bytes
        doc = CosDoc(amended)
        info = doc.get(doc.trailer, Name("Info"))
        # str_bytes: the writer canonically re-serializes strings as
        # hex, so compare decoded payloads, not container bytes
        assert str_bytes(info[Name("Processor")]) == b"pdfio-spark-r6"
        assert str_bytes(info[Name("Producer")]) == b"pdfio-spark"
        from pdfio_spark.pd.extract import extract_doc
        assert (extract_doc(amended)["text"]
                == extract_doc(src)["text"])
        # no /Info -> byte-identical passthrough, flagged distinctly
        assert out["u1"]["status"] == "empty"
        assert bytes(out["u1"]["html"]) == bytes(rows[1][1])
        # garbage -> row-local quarantine
        assert out["u2"]["status"] == "error"
        assert out["u2"]["html"] is None


def test_run_job_resume(spark, corpus, tmp_path):
    """Crash-resume: second run with --resume writes only missing urls."""
    from pdfio_spark.pipeline.run import run_job
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    corpus.select("url", "html").write.parquet(inp)
    # simulate a partial first run: only 25 of 60 urls written
    first = spark.read.parquet(inp).limit(25)
    from pdfio_spark.pipeline.job import extract_pdfs
    extract_pdfs(first).write.parquet(outp)
    r = run_job(spark, inp, outp, met, resume=True)
    assert r["written"] == 35
    out = spark.read.parquet(outp)
    assert out.count() == 60
    assert out.select("url").distinct().count() == 60
    assert spark.read.parquet(met).count() > 0


def _revocation_blobs():
    """(crl_pem, ocsp_der) both revoking the packaged leaf identity,
    via the shared fixtures builders (r6 review: one implementation,
    not three)."""
    from pdfio_spark.fixtures import (make_crl, make_ocsp_response,
                                      sig_identity)
    crl = make_crl([sig_identity("leaf")[0].serial_number])
    return crl, make_ocsp_response()


def test_validate_signatures_over(spark):
    """Corpus-scale signature audit (r6): per-signature rows, nosig/
    error isolation, and the trust/CRL/OCSP material shipped as bytes
    into the task closure (setters are process-local and never reach
    executors)."""
    from pdfio_spark.fixtures import (build_fixture, make_signed_pdf,
                                      test_trust_pems)
    from pdfio_spark.pipeline.job import validate_signatures_over
    crl, resp = _revocation_blobs()
    rows = [("signed", bytearray(make_signed_pdf(["body"],
                                                 identity="leaf"))),
            ("unsigned", bytearray(build_fixture("flate_simple",
                                                 ["plain"]))),
            ("garbage", bytearray(b"%PDF-not really"))]
    corpus = spark.createDataFrame(rows, "url string, html binary")
    trust = [bytes(p) for p in test_trust_pems()]

    # no revocation material: leaf chain-trusts and passes
    out = {r["url"]: r for r in validate_signatures_over(
        corpus, trust_pems=trust, crl_blobs=[], ocsp_ders=[]).collect()}
    assert out["signed"]["status"] == "ok"
    assert out["signed"]["passed"] is True
    assert out["signed"]["signer"] == "CN=pdfio-spark-leaf"
    assert out["signed"]["sig_index"] == 0
    assert out["unsigned"]["status"] == "nosig"
    assert out["unsigned"]["passed"] is None
    assert out["garbage"]["status"] == "error"
    assert out["garbage"]["err"] is not None

    # CRL and OCSP blobs each revoke it, executor-side
    for kw in ({"crl_blobs": [crl]}, {"ocsp_ders": [resp]}):
        out = {r["url"]: r for r in validate_signatures_over(
            corpus, trust_pems=trust, **kw).collect()}
        assert out["signed"]["passed"] is False
        assert out["signed"]["err"] == "revoked signer certificate"

    # export_certs: PEM text rides in the row
    out = {r["url"]: r for r in validate_signatures_over(
        corpus, trust_pems=trust, export_certs=True).collect()}
    pems = out["signed"]["certs_pem"]
    assert pems and any("BEGIN CERTIFICATE" in p for p in pems)

    # malformed revocation material fails fast on the DRIVER
    with pytest.raises(Exception):
        validate_signatures_over(corpus, crl_blobs=[b"not a crl"])
    with pytest.raises(Exception):
        validate_signatures_over(corpus, ocsp_ders=[b"not ocsp"])


def test_rewrite_pdfs_corpus_roundtrip(spark, corpus):
    """Distributed writer transform (r5): the whole fixture corpus is
    AES-128-encrypted + ObjStm-repacked inside executor UDFs and must
    re-extract byte-identically; a garbage row quarantines, never
    fails the task."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import rewrite_pdfs
    want = {r["url"]: r["text"] for r in extract_pdfs(corpus).collect()}
    src = corpus.select("url", "html").unionByName(
        spark.createDataFrame([("doc://garbage",
                                bytearray(b"not a pdf at all"))],
                              "url string, html binary"))
    rewritten = rewrite_pdfs(src, encrypt="aes-128", pack="objstm")
    rows = rewritten.collect()
    stat = {r["url"]: r["status"] for r in rows}
    assert stat.pop("doc://garbage") == "error"
    # already-encrypted fixture classes are refused by contract; every
    # other class must rewrite
    errs = {r["url"]: r["err"] for r in rows if r["status"] == "error"
            if r["url"] != "doc://garbage"}
    assert all("already-encrypted" in e for e in errs.values())
    want = {u: t for u, t in want.items() if u not in errs}
    assert set(stat.values()) <= {"ok", "error"}
    assert sum(1 for v in stat.values() if v == "ok") == len(want)
    back = extract_pdfs(
        rewritten.filter("status = 'ok'").select("url", "html"))
    got = {r["url"]: r["text"] for r in back.collect()}
    assert got == want
    # and the rewritten corpus is genuinely encrypted
    one = rewritten.filter("status = 'ok'").limit(1).collect()[0]
    assert b"/Encrypt" in bytes(one["html"])


def test_run_job_metrics_reconcile(spark, corpus, tmp_path):
    """ADVICE r4: a crash BETWEEN the output append and the metrics
    append leaves committed output rows with no lineage. On resume,
    run_ids present in output but absent from metrics get their
    metrics recomputed from the output rows (exact counts,
    reconciled=true)."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    corpus.select("url", "html").write.parquet(inp)
    # run 1 completes normally over the first 25 urls
    first_in = str(tmp_path / "in1")
    spark.read.parquet(inp).limit(25).write.parquet(first_in)
    r1 = run_job(spark, first_in, outp, met, run_id="run1")
    assert r1["written"] == 25
    # run 2 "crashes" after the output append, before metrics: emulate
    # by writing output rows stamped run2 with no metrics append
    from pdfio_spark.pipeline.job import extract_pdfs
    crashed = (spark.read.parquet(inp)
               .join(spark.read.parquet(outp).select("url"),
                     "url", "left_anti").limit(20))
    extract_pdfs(crashed).withColumn("run_id", F.lit("run2")) \
        .write.mode("append").parquet(outp)
    # resume run reconciles run2's lineage and extracts the remainder
    r3 = run_job(spark, inp, outp, met, resume=True, run_id="run3")
    assert r3["written"] == 15
    m = spark.read.parquet(met)
    by_run = {r["run_id"]: r["n"] for r in
              m.groupBy("run_id").agg(F.sum("n_docs").alias("n"))
              .collect()}
    assert by_run["run2"] == 20          # reconciled, exact
    assert by_run["run1"] == 25 and by_run["run3"] == 15
    assert m.filter("reconciled").select("run_id").distinct() \
        .collect()[0]["run_id"] == "run2"
    # totals balance: every output row has lineage exactly once
    assert sum(by_run.values()) == spark.read.parquet(outp).count()


def test_run_job_resume_beside_pre_run_id_output(spark, corpus, tmp_path):
    """An output dir holding a part-file written before outputs carried
    run_id, beside stamped part-files: resume reads the dir with a
    declared schema, so the old rows read run_id NULL. They are no
    orphan run (nothing is reconciled), their urls are still skipped,
    and the metrics count every stamped row exactly once."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import extract_pdfs
    from pdfio_spark.pipeline.run import run_job
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    corpus.select("url", "html").write.parquet(inp)
    full = spark.read.parquet(inp)
    # the pre-run_id part-file: 10 docs, no run_id column
    legacy = full.orderBy("url").limit(10)
    extract_pdfs(legacy).coalesce(1).write.parquet(outp)
    legacy_urls = {r["url"] for r in legacy.select("url").collect()}
    # a stamped run over a slice that overlaps the old rows
    first_in = str(tmp_path / "in1")
    full.orderBy("url").limit(25).write.parquet(first_in)
    r1 = run_job(spark, first_in, outp, met, resume=True, run_id="a")
    assert r1["written"] == 15
    r2 = run_job(spark, inp, outp, met, resume=True, run_id="b")
    assert r2["written"] == 60 - 25
    out = spark.read.option("mergeSchema", True).parquet(outp)
    assert out.count() == 60
    assert out.select("url").distinct().count() == 60
    assert {r["url"] for r in out.filter(F.col("run_id").isNull())
            .select("url").collect()} == legacy_urls
    m = spark.read.parquet(met)
    assert m.filter("reconciled").count() == 0
    by_run = {r["run_id"]: r["n"] for r in
              m.groupBy("run_id").agg(F.sum("n_docs").alias("n"))
              .collect()}
    assert by_run == {"a": 15, "b": 35}
    assert sum(by_run.values()) == \
        out.filter(F.col("run_id").isNotNull()).count()


def test_stream_metrics_watermark(spark, tmp_path):
    """Watermarked windowed rollup over an event stream."""
    import datetime as dt
    from pdfio_spark.pipeline.streaming import stream_metrics
    inp = str(tmp_path / "events_in")
    rows = [(dt.datetime(2026, 1, 1, 0, i % 5, (30 * i) % 60, 0), s, 100 + i)
            for i, s in enumerate(["ok", "ok", "error", "ok", "ok",
                                   "error", "ok", "ok", "ok", "ok"])]
    spark.createDataFrame(rows, "ts timestamp, status string, nbytes long") \
        .write.parquet(inp)
    q = stream_metrics(spark, inp, str(tmp_path / "chk"))
    q.awaitTermination(120)
    # update mode (r4): a key may emit once per trigger it changed in;
    # counts only grow, so the latest version per (window, status) is
    # the max
    out = spark.sql(
        "select w, status, max(n_docs) as n_docs from stream_metrics "
        "group by w, status").collect()
    assert sum(r["n_docs"] for r in out) == 10
    assert {r["status"] for r in out} == {"ok", "error"}


def test_row_timeout_mechanism(monkeypatch):
    """SIGALRM row budget: a hanging extraction yields status='timeout'
    instead of stalling the task."""
    import time as _time
    from pdfio_spark.pipeline import job

    def slow_extract(html, **kw):
        _time.sleep(5)
        return {"n_pages": 1, "text": "x", "pages": [],
                "status": "ok", "err": ""}

    import pdfio_spark.pd.extract as ex
    monkeypatch.setattr(ex, "extract_doc", slow_extract)
    r = job._extract_with_timeout(b"xx", 0.3)
    assert r["status"] == "timeout"
    # and a fast row under the same budget is unaffected
    monkeypatch.setattr(ex, "extract_doc",
                        lambda html, **kw: {"n_pages": 1, "text": "y",
                                            "pages": [], "status": "ok",
                                            "err": ""})
    assert job._extract_with_timeout(b"xx", 5.0)["status"] == "ok"


def test_stream_stateful_dedup(spark, corpus, tmp_path):
    """applyInPandasWithState: url-dedup across micro-batches with
    checkpointed state (duplicates in later batches are dropped)."""
    from pdfio_spark.pipeline.streaming import stream_dedup
    inp = str(tmp_path / "dd_in")
    chk = str(tmp_path / "dd_chk")
    outp = str(tmp_path / "dd_out")
    # batch 1: 30 docs; batch 2: same 30 again + 10 new (file source
    # picks up both in one availableNow run as separate micro-batches)
    base = corpus.limit(40).cache()
    base.count()
    base.limit(30).write.parquet(inp)
    q = stream_dedup(spark, inp, chk, outp)
    q.awaitTermination(120)
    assert spark.read.parquet(outp).count() == 30
    # append duplicates + new rows, re-run with the same checkpoint
    base.write.mode("append").parquet(inp)
    q2 = stream_dedup(spark, inp, chk, outp)
    q2.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.select("url").distinct().count() == 40
    assert out.count() == 40  # zero duplicate emissions


def test_lsh_salted_join_skew_defense(spark, tmp_path):
    """Skewed embeddings (every vector forced into ONE LSH bucket) must
    (a) produce results identical to the unsalted reference join and
    (b) split the hot bucket's work across LSH_SALT join groups so no
    single task carries the full n^2 pair load."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline import queries as Q

    # 120 copies of the same vector: identical hyperplane signs -> a
    # single hot bucket (the worst case the salt exists for).
    n, dim = 120, 64
    rows = [(i, [0.5] * dim) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pdir = str(tmp_path / "skew_emb")
    emb.write.parquet(pdir + "/embeddings.parquet")

    b = (spark.read.parquet(pdir + "/embeddings.parquet")
         .select("vec_id", "embedding",
                 Q._bucket_expr("embedding").alias("bucket")))
    assert b.select("bucket").distinct().count() == 1  # fully skewed

    plain = (b.alias("a").join(
        b.alias("c"),
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vec_id") < F.col("c.vec_id")))
        .select(F.col("a.vec_id").alias("va"),
                F.col("c.vec_id").alias("vb")))
    # hot path (threshold below the bucket size -> salting engages)
    # AND cold path (default threshold -> no salting): both identical
    for thr in (100, Q.LSH_HOT_BUCKET):
        salted = (Q._salted_bucket_pairs(b, lambda a, c: a < c,
                                         hot_threshold=thr)
                  .select(F.col("a.vec_id").alias("va"),
                          F.col("c.vec_id").alias("vb")))
        assert salted.count() == n * (n - 1) // 2
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0

    # work split on the hot path: the probe side lands in LSH_SALT
    # distinct (bucket, salt) groups instead of one
    hot = Q._salted_bucket_pairs(b, lambda a, c: a < c, hot_threshold=100)
    n_groups = (hot.select(F.col("a.bucket"), F.col("a.salt"))
                .distinct().count())
    assert n_groups == Q.LSH_SALT


def test_stream_dedup_ttl_readmits(spark, corpus, tmp_path):
    """TTL-bounded state: an expired key re-admits one row (the
    at-least-once tradeoff that bounds state on infinite keyspaces).
    NOTE: with ProcessingTimeTimeout an availableNow query keeps
    triggering batches to fire expirations and never self-terminates —
    bound each run with stop() after the data batches commit."""
    import time
    from pdfio_spark.pipeline.streaming import stream_dedup
    inp = str(tmp_path / "ttl_in")
    chk = str(tmp_path / "ttl_chk")
    outp = str(tmp_path / "ttl_out")
    base = corpus.limit(10).cache()
    base.count()
    base.write.parquet(inp)

    def run_until(n_rows, timeout=90):
        q = stream_dedup(spark, inp, chk, outp, state_ttl_hours=1e-7)
        t0 = time.time()
        try:
            while time.time() - t0 < timeout:
                try:
                    if spark.read.parquet(outp).count() >= n_rows:
                        return True
                except Exception:
                    pass
                time.sleep(2)
            return False
        finally:
            q.stop()

    assert run_until(10)                      # first batch: 10 distinct
    assert spark.read.parquet(outp).count() == 10
    time.sleep(1)                             # let the 1 ms TTL lapse
    base.write.mode("append").parquet(inp)    # same urls again
    # expired state -> duplicates re-admitted (at-least-once inside TTL)
    assert run_until(11)
    out = spark.read.parquet(outp)
    assert out.select("url").distinct().count() == 10
    assert out.count() >= 11


def test_read_pdf_dir_source(spark, tmp_path):
    """binaryFile source: a directory of raw .pdf files extracts
    end-to-end (the reference's pdDocOpen(path) at corpus scale)."""
    import gzip
    from pdfio_spark.fixtures import build_fixture
    from pdfio_spark.pipeline.sources import read_pdf_dir
    d = tmp_path / "pdfs"
    d.mkdir()
    for i in range(6):
        (d / f"doc{i}.pdf").write_bytes(
            build_fixture("flate_simple", [f"Doc {i}: from disk"]))
    corpus = read_pdf_dir(spark, str(d))
    ext = extract_pdfs(corpus)
    rows = {r["url"].rsplit("/", 1)[-1]: r["text"] for r in ext.collect()}
    assert len(rows) == 6
    assert rows["doc3.pdf"] == "         Doc 3: from disk\n"


def test_read_warc_source(spark, tmp_path):
    """WARC ingestion: response records (plain AND per-record-gzip,
    the Common Crawl layout) -> (url, warc_ts, html) -> extraction."""
    import gzip
    from pdfio_spark.fixtures import build_fixture
    from pdfio_spark.pipeline.sources import read_warc

    def warc_record(url, ts, payload, with_http=True):
        body = payload
        if with_http:
            body = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf"
                    b"\r\n\r\n" + payload)
        hdr = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: " + url.encode() + b"\r\n"
               b"WARC-Date: " + ts.encode() + b"\r\n"
               b"Content-Length: " + str(len(body)).encode() + b"\r\n"
               b"\r\n")
        return hdr + body + b"\r\n\r\n"

    meta = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n"
            b"\r\nmeta\r\n\r\n")
    pdfs = [build_fixture("flate_simple", [f"Doc {i}: warc row"])
            for i in range(4)]
    recs = [warc_record(f"https://ex.org/{i}.pdf",
                        f"2026-01-0{i+1}T00:00:00Z", p)
            for i, p in enumerate(pdfs)]
    d = tmp_path / "warcs"
    d.mkdir()
    # shard 1: plain WARC with a warcinfo record to skip
    (d / "a.warc").write_bytes(meta + recs[0] + recs[1])
    # shard 2: per-record gzip members (Common Crawl layout)
    (d / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs[2:]))
    cc = read_warc(spark, str(d))
    rows = cc.collect()
    assert len(rows) == 4
    assert {r["url"] for r in rows} == \
        {f"https://ex.org/{i}.pdf" for i in range(4)}
    assert all(r["warc_ts"] is not None for r in rows)
    ext = extract_pdfs(cc.select("url", "html", "nbytes"))
    texts = {r["url"]: r["text"] for r in ext.collect()}
    assert texts["https://ex.org/2.pdf"] == "         Doc 2: warc row\n"
    # r5 review: a corrupt/truncated gzip member must cost only the
    # shard's unparsed tail, never the Spark task
    (d / "c.warc.gz").write_bytes(
        gzip.compress(warc_record("https://ex.org/ok.pdf",
                                  "2026-01-05T00:00:00Z", pdfs[0]))
        + b"\x1f\x8b\x08CORRUPT-MEMBER-GARBAGE")
    rows = read_warc(spark, str(d)).collect()
    assert len(rows) == 5  # 4 prior + the record before the corruption
    assert "https://ex.org/ok.pdf" in {r["url"] for r in rows}


def test_read_wet_source(spark, tmp_path):
    """WET ingestion (r5): conversion records' plain-text bodies ->
    (url, warc_ts, text), straight into the text-plane operators
    (minhash band kernel here); warcinfo/request records skipped,
    corrupt gzip members cost only their own tail."""
    import gzip
    from pdfio_spark.pipeline.queries import minhash_band_melt
    from pdfio_spark.pipeline.sources import read_wet

    def wet_record(url, ts, text, rtype=b"conversion"):
        body = text.encode("utf-8")
        hdr = (b"WARC/1.0\r\n"
               b"WARC-Type: " + rtype + b"\r\n"
               b"WARC-Target-URI: " + url.encode() + b"\r\n"
               b"WARC-Date: " + ts.encode() + b"\r\n"
               b"Content-Type: text/plain\r\n"
               b"Content-Length: " + str(len(body)).encode() + b"\r\n"
               b"\r\n")
        return hdr + body + b"\r\n\r\n"

    meta = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n"
            b"\r\nmeta\r\n\r\n")
    texts = {f"https://ex.org/p{i}":
             f"wet body {i} " + "the quick brown fox " * 4
             for i in range(4)}
    recs = [wet_record(u, f"2026-02-0{i+1}T00:00:00Z", t)
            for i, (u, t) in enumerate(texts.items())]
    d = tmp_path / "wets"
    d.mkdir()
    (d / "a.warc.wet").write_bytes(meta + recs[0] + recs[1])
    (d / "b.warc.wet.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs[2:])
        + b"\x1f\x8b\x08TRUNCATED")
    wet = read_wet(spark, str(d))
    rows = wet.collect()
    assert {r["url"]: r["text"] for r in rows} == texts
    assert all(r["warc_ts"] is not None for r in rows)
    # text plane composes directly: every doc yields 4 band keys
    from pyspark.sql import functions as F
    docs = wet.select(F.monotonically_increasing_id().alias("doc_id"),
                      "text")
    melted = minhash_band_melt(docs)
    assert melted.count() == 4 * len(texts)


def test_read_wat_source(spark, tmp_path):
    """WAT ingestion (r6, completes the Common-Crawl triple):
    metadata records' JSON envelopes -> (url, warc_ts, flattened
    metadata map); scalar paths verbatim, list fields as .length
    counts; non-metadata records, invalid-JSON bodies and corrupt
    gzip members cost only themselves."""
    import gzip
    import json
    from pdfio_spark.pipeline.sources import read_wat

    def wat_record(url, ts, payload, rtype=b"metadata"):
        body = (payload if isinstance(payload, bytes)
                else json.dumps(payload).encode())
        hdr = (b"WARC/1.0\r\n"
               b"WARC-Type: " + rtype + b"\r\n"
               b"WARC-Target-URI: " + url.encode() + b"\r\n"
               b"WARC-Date: " + ts.encode() + b"\r\n"
               b"Content-Type: application/json\r\n"
               b"Content-Length: " + str(len(body)).encode() + b"\r\n"
               b"\r\n")
        return hdr + body + b"\r\n\r\n"

    def envelope(i):
        return {"Envelope": {
            "WARC-Header-Metadata": {"WARC-Type": "response"},
            "Payload-Metadata": {
                "Actual-Content-Length": 100 + i,
                "HTTP-Response-Metadata": {
                    "Headers": {"Content-Type": "text/html"},
                    "Response-Message": {"Status": 200},
                    "HTML-Metadata": {
                        "Head": {"Title": f"Page {i}"},
                        "Links": [{"url": f"l{j}"}
                                  for j in range(i + 1)]}}}}}

    recs = [wat_record(f"https://ex.org/p{i}",
                       f"2026-03-0{i + 1}T00:00:00Z", envelope(i))
            for i in range(4)]
    skip_json = wat_record("https://ex.org/bad",
                           "2026-03-09T00:00:00Z", b"{not json")
    skip_type = wat_record("https://ex.org/warcinfo",
                           "2026-03-09T00:00:00Z", {"x": 1},
                           rtype=b"warcinfo")
    d = tmp_path / "wats"
    d.mkdir()
    (d / "a.warc.wat").write_bytes(recs[0] + skip_json + recs[1]
                                   + skip_type)
    (d / "b.warc.wat.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs[2:])
        + b"\x1f\x8b\x08TRUNCATED")
    rows = {r["url"]: r for r in read_wat(spark, str(d)).collect()}
    assert set(rows) == {f"https://ex.org/p{i}" for i in range(4)}
    for i in range(4):
        m = dict(rows[f"https://ex.org/p{i}"]["metadata"])
        pm = "Envelope.Payload-Metadata"
        assert m[f"{pm}.HTTP-Response-Metadata.Headers."
                 "Content-Type"] == "text/html"
        assert m[f"{pm}.HTTP-Response-Metadata.Response-Message."
                 "Status"] == "200"
        assert m[f"{pm}.HTTP-Response-Metadata.HTML-Metadata."
                 "Head.Title"] == f"Page {i}"
        assert m[f"{pm}.HTTP-Response-Metadata.HTML-Metadata."
                 "Links.length"] == str(i + 1)
        assert m[f"{pm}.Actual-Content-Length"] == str(100 + i)
    assert all(r["warc_ts"] is not None for r in rows.values())
    # map column is directly filterable — the point of flattening
    from pyspark.sql import functions as F
    n = (read_wat(spark, str(d))
         .filter(F.col("metadata")[
             "Envelope.Payload-Metadata.HTTP-Response-Metadata."
             "Response-Message.Status"] == "200").count())
    assert n == 4


def test_run_job_wet_mode_resume(spark, tmp_path):
    """WET production path (r5): run_job --mode wet annotates
    pre-extracted text with the oracle-verified analytics set, under
    the same resume / metrics / run_id contract as pdf/html."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    inp = str(tmp_path / "wet_in")
    outp = str(tmp_path / "wet_out")
    met = str(tmp_path / "wet_met")
    rows = [(f"wet://{i}", f"doc {i} body the quick brown fox and more")
            for i in range(30)] + [("wet://empty", None)]
    spark.createDataFrame(rows, "url string, text string") \
        .write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="wet", run_id="w1")
    assert r1["by_status"].get("ok") == 30
    assert r1["by_status"].get("empty") == 1
    out = spark.read.parquet(outp)
    row = out.filter("url = 'wet://3'").collect()[0]
    assert row["ws_tokens"] == 9 and row["pred_lang"] == "en"
    assert row["content_md5"] is not None
    # the annotation IS the oracled expression set: recompute directly
    from pdfio_spark.pipeline.queries import text_metrics_cols
    want = spark.createDataFrame(
        [rows[3]], "url string, text string") \
        .select(*text_metrics_cols()).collect()[0]
    assert row["stop_ratio"] == want["stop_ratio"]
    # resume: only new urls processed, metrics balance
    spark.createDataFrame([("wet://new", "fresh text body here now")],
                          "url string, text string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, resume=True, mode="wet",
                 run_id="w2")
    assert r2["written"] == 1
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 32
    assert spark.read.parquet(outp).count() == 32


def test_stream_ingest_wet(spark, tmp_path):
    """Streaming twin of --mode wet: exactly-once annotation of a
    pre-extracted-text stream; restart reprocesses nothing."""
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "swet_in")
    chk = str(tmp_path / "swet_chk")
    outp = str(tmp_path / "swet_out")
    spark.createDataFrame(
        [(f"wet://{i}", f"stream body {i} of the corpus") for i in
         range(12)], "url string, text string").write.parquet(inp)
    q = stream_stage(spark, "wet", inp, chk, outp)
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 12
    assert out.filter("status = 'ok'").count() == 12
    assert out.filter("url = 'wet://5'").collect()[0]["ws_tokens"] == 6
    q2 = stream_stage(spark, "wet", inp, chk, outp)
    q2.awaitTermination(60)
    assert spark.read.parquet(outp).count() == 12  # nothing reprocessed


def _wat_rows(n, start=0):
    # the production prefix, not a copy — drift in the flatten key
    # scheme must fail these tests (r6 review)
    from pdfio_spark.pipeline.job import _WAT_HTTP as pm
    return [(f"wat://{i}",
             {pm + "Headers.Content-Type": "text/html",
              pm + "Headers.Server": "nginx",
              pm + "Response-Message.Status": "200",
              pm + "HTML-Metadata.Links.length": str(i + 1),
              pm + "HTML-Metadata.Head.Title": f"Page {i}"},
             100 + i) for i in range(start, start + n)]


_WAT_SCHEMA = "url string, metadata map<string,string>, nbytes long"


def test_run_job_wat_mode_resume(spark, tmp_path):
    """WAT production path (r6): run_job --mode wat promotes the
    flattened crawl-metadata selection paths to typed columns under
    the same resume / metrics / run_id contract as pdf/html/wet."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    inp = str(tmp_path / "wat_in")
    outp = str(tmp_path / "wat_out")
    met = str(tmp_path / "wat_met")
    rows = _wat_rows(20) + [("wat://empty", {}, 0),
                            ("wat://nullmap", None, 0)]
    spark.createDataFrame(rows, _WAT_SCHEMA).write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="wat", run_id="t1")
    assert r1["by_status"].get("ok") == 20
    assert r1["by_status"].get("empty") == 2
    out = spark.read.parquet(outp)
    row = out.filter("url = 'wat://3'").collect()[0]
    assert row["content_type"] == "text/html"
    assert row["server"] == "nginx"
    assert row["http_status"] == 200
    assert row["n_links"] == 4
    assert row["title"] == "Page 3"
    assert row["n_keys"] == 5 and row["nbytes"] == 103
    # the typed columns are directly filterable at the sink
    assert out.filter("http_status = 200 AND n_links > 10").count() == 10
    # resume: only new urls processed, metrics balance
    spark.createDataFrame(_wat_rows(3, start=50), _WAT_SCHEMA) \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, resume=True, mode="wat",
                 run_id="t2")
    assert r2["written"] == 3
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 25
    assert m.agg(F.sum("n_ok")).collect()[0][0] == 23
    # NULL map pins n_keys to 0, never -1/NULL (sum_keys lineage)
    assert (out.filter("url = 'wat://nullmap'").collect()[0]["n_keys"]
            == 0)
    assert spark.read.parquet(outp).count() == 25


def test_stream_ingest_wat(spark, tmp_path):
    """Streaming twin of --mode wat: exactly-once typed-column
    promotion of a crawl-metadata stream; restart reprocesses
    nothing."""
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "swat_in")
    chk = str(tmp_path / "swat_chk")
    outp = str(tmp_path / "swat_out")
    spark.createDataFrame(_wat_rows(12), _WAT_SCHEMA) \
        .write.parquet(inp)
    q = stream_stage(spark, "wat", inp, chk, outp)
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 12
    assert out.filter("status = 'ok'").count() == 12
    assert out.filter("url = 'wat://5'").collect()[0]["n_links"] == 6
    q2 = stream_stage(spark, "wat", inp, chk, outp)
    q2.awaitTermination(60)
    assert spark.read.parquet(outp).count() == 12  # nothing reprocessed


def test_run_job_sigaudit_mode_resume(spark, tmp_path):
    """run.py --mode sigaudit (r6): corpus signature audit under the
    resume/metrics/run_id contract, with OCSP revocation material
    shipped into executor closures via opts."""
    from pyspark.sql import functions as F
    from pdfio_spark.fixtures import (build_fixture, make_signed_pdf,
                                      test_trust_pems)
    from pdfio_spark.pipeline.run import run_job
    crl, resp = _revocation_blobs()
    rows = ([(f"sig://{i}",
              bytearray(make_signed_pdf([f"b{i}"], identity="leaf")))
             for i in range(8)]
            + [("sig://nosig", bytearray(build_fixture(
                "flate_simple", ["x"]))),
               ("sig://bad", bytearray(b"%PDF-nope"))])
    inp = str(tmp_path / "sa_in")
    outp = str(tmp_path / "sa_out")
    met = str(tmp_path / "sa_met")
    spark.createDataFrame(rows, "url string, html binary") \
        .write.parquet(inp)
    mat = {"trust_pems": [bytes(p) for p in test_trust_pems()],
           "ocsp_ders": [resp]}
    r1 = run_job(spark, inp, outp, met, mode="sigaudit", run_id="s1",
                 opts=mat)
    assert r1["by_status"] == {"ok": 8, "nosig": 1, "error": 1}
    out = spark.read.parquet(outp)
    # the stapled OCSP response revokes every leaf signature
    assert out.filter("passed").count() == 0
    assert (out.filter("err = 'revoked signer certificate'").count()
            == 8)
    # resume appends only the new docs
    more = [(f"sig://n{i}",
             bytearray(make_signed_pdf(["m"], identity="leaf")))
            for i in range(3)]
    spark.createDataFrame(more, "url string, html binary") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="sigaudit", resume=True,
                 run_id="s2", opts=mat)
    assert r2["written"] == 3
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_rows")).collect()[0][0] == 13
    assert m.agg(F.sum("n_revoked")).collect()[0][0] == 11
    assert m.agg(F.sum("n_nosig")).collect()[0][0] == 1
    assert m.agg(F.sum("n_error")).collect()[0][0] == 1
    # typo'd material key / wrong-mode material fail driver-side
    with pytest.raises(ValueError):
        run_job(spark, inp, outp, met, mode="sigaudit",
                opts={"crls": [crl]})
    with pytest.raises(ValueError):
        run_job(spark, inp, outp, met, mode="pdf", opts=mat)


def test_stream_sigaudit(spark, tmp_path):
    """Streaming twin of --mode sigaudit: exactly-once per-signature
    audit rows; restart with the same checkpoint reprocesses
    nothing."""
    from pdfio_spark.fixtures import make_signed_pdf, test_trust_pems
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "ssig_in")
    chk = str(tmp_path / "ssig_chk")
    outp = str(tmp_path / "ssig_out")
    rows = [(f"s://{i}",
             bytearray(make_signed_pdf([f"x{i}"], identity="leaf")))
            for i in range(6)]
    spark.createDataFrame(rows, "url string, html binary") \
        .write.parquet(inp)
    trust = [bytes(p) for p in test_trust_pems()]
    q = stream_stage(spark, "sigaudit", inp, chk, outp,
                     opts={"trust_pems": trust})
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 6
    assert out.filter("passed").count() == 6
    assert out.filter("signer = 'CN=pdfio-spark-leaf'").count() == 6
    q2 = stream_stage(spark, "sigaudit", inp, chk, outp,
                      opts={"trust_pems": trust})
    q2.awaitTermination(60)
    assert spark.read.parquet(outp).count() == 6  # nothing reprocessed


def _quality_corpus():
    """Deterministic texts, each tripping a known rule set."""
    distinct = " ".join(f"w{i}" for i in range(56))
    return [
        ("q://kept", f"the and of is {distinct}"),          # clean
        # 11 words: under the floor, but enough that 1/(nw-1) top-
        # bigram frac stays below the repetition threshold
        ("q://short", "the " + " ".join(f"t{i}" for i in range(10))),
        ("q://rep", "the " + "spam ham " * 40),             # repetition
        # German lang-id words + English STOPWORDS that are not in
        # the en lang-id set (a/to/in/it), isolating the lang reason
        ("q://de", "der und die ist a to in it " + distinct),
    ]


def test_quality_decisions_and_run_job_filter_mode(spark, tmp_path):
    """The Gopher/C4-style quality gate (r6): keep decisions with
    per-rule reason tags, composed from the oracled metric kernels,
    under the full resume/metrics/run_id contract."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import quality_decisions
    from pdfio_spark.pipeline.run import run_job
    corpus = spark.createDataFrame(_quality_corpus(),
                                   "url string, text string")
    out = {r["url"]: r for r in quality_decisions(corpus).collect()}
    assert out["q://kept"]["status"] == "kept"
    assert out["q://kept"]["reasons"] == []
    assert out["q://short"]["reasons"] == ["too_few_words"]
    assert set(out["q://rep"]["reasons"]) == {"dup_words", "repetition"}
    assert out["q://de"]["reasons"] == ["lang"]
    assert out["q://de"]["pred_lang"] == "de"
    # thresholds are tunable: admit German, drop the word floor
    out2 = {r["url"]: r for r in quality_decisions(
        corpus, langs=("en", "de"), min_words=1).collect()}
    assert out2["q://de"]["status"] == "kept"
    assert out2["q://short"]["status"] == "kept"
    # a bare-string langs means ONE language, not its characters
    # (isin('e','n') matched nothing and dropped every doc — r6
    # review)
    out3 = {r["url"]: r for r in quality_decisions(
        corpus, langs="de", min_words=1).collect()}
    assert out3["q://de"]["status"] == "kept"
    assert "lang" in out3["q://kept"]["reasons"]

    # production contract
    inp = str(tmp_path / "qf_in")
    outp = str(tmp_path / "qf_out")
    met = str(tmp_path / "qf_met")
    corpus.write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="filter", run_id="f1")
    assert r1["by_status"] == {"kept": 1, "dropped": 3}
    spark.createDataFrame([("q://new", "the and of is " + " ".join(
        f"x{i}" for i in range(56)))], "url string, text string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="filter", resume=True,
                 run_id="f2")
    assert r2["written"] == 1 and r2["by_status"] == {"kept": 1}
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 5
    assert m.agg(F.sum("n_kept")).collect()[0][0] == 2
    assert m.agg(F.sum("n_repetition")).collect()[0][0] == 1
    assert m.agg(F.sum("n_lang")).collect()[0][0] == 1
    # filter opts thresholds flow through run_job; typo'd keys and
    # wrong-mode opts fail driver-side
    outp2 = str(tmp_path / "qf_out2")
    r3 = run_job(spark, inp, outp2, None, mode="filter", run_id="f3",
                 opts={"langs": ["en", "de"], "min_words": 1})
    assert r3["by_status"] == {"kept": 4, "dropped": 1}
    with pytest.raises(ValueError):
        run_job(spark, inp, outp2, None, mode="filter",
                opts={"min_word": 1})
    with pytest.raises(ValueError):
        run_job(spark, inp, outp2, None, mode="pdf", opts={"min_words": 1})


def test_pii_scrub_over_and_run_job_pii_mode(spark, tmp_path):
    """r6: PII redaction stage — emails / SSN-style ids / IPv4 /
    phone numbers replaced by placeholders with per-category counts,
    under the full resume/metrics/run_id contract. Conservative by
    design: a BARE 10-digit integer is NOT treated as a phone (ids/
    timestamps), separator or parens form is required."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import pii_scrub_over
    from pdfio_spark.pipeline.run import run_job
    rows = [
        ("p://mail", "write to jane.doe+spam@sub.example.co.uk today"),
        ("p://ssn", "ssn 123-45-6789 on file"),
        ("p://ip", "served from 192.168.0.1 and 10.0.0.254"),
        # sentence-final quad redacts; 5-group version string stays
        ("p://ipdot", "origin was 10.1.2.3. Release 1.2.3.4.5 ok"),
        ("p://phone", "call (555) 123-4567 or +1 555.123.4567"),
        ("p://clean", "order 1234567890 shipped on 12-34-5678"),
        ("p://null", None),
    ]
    corpus = spark.createDataFrame(rows, "url string, text string")
    out = {r["url"]: r for r in pii_scrub_over(corpus).collect()}
    assert out["p://mail"]["text"] == "write to <EMAIL> today"
    assert (out["p://mail"]["n_email"], out["p://mail"]["status"]) \
        == (1, "scrubbed")
    assert out["p://ssn"]["text"] == "ssn <SSN> on file"
    assert out["p://ip"]["text"] == "served from <IPV4> and <IPV4>"
    assert out["p://ip"]["n_ipv4"] == 2
    assert out["p://ipdot"]["text"] == "origin was <IPV4>. Release 1.2.3.4.5 ok"
    assert out["p://ipdot"]["n_ipv4"] == 1
    assert out["p://phone"]["text"] == "call <PHONE> or <PHONE>"
    assert out["p://phone"]["n_phone"] == 2
    # bare digit runs and a 2-2-4 date-like group stay untouched
    assert out["p://clean"]["text"] == rows[5][1]
    assert (out["p://clean"]["n_pii"], out["p://clean"]["status"]) \
        == (0, "clean")
    assert out["p://null"]["text"] == ""

    # production contract: run_id + metrics + exactly-once resume
    inp = str(tmp_path / "pii_in")
    outp = str(tmp_path / "pii_out")
    met = str(tmp_path / "pii_met")
    corpus.write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="pii", run_id="p1")
    assert r1["by_status"] == {"scrubbed": 5, "clean": 2}
    spark.createDataFrame([("p://late", "ping admin@example.org")],
                          "url string, text string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="pii", resume=True,
                 run_id="p2")
    assert r2["written"] == 1 and r2["by_status"] == {"scrubbed": 1}
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 8
    assert m.agg(F.sum("n_scrubbed")).collect()[0][0] == 6
    assert m.agg(F.sum("n_email")).collect()[0][0] == 2
    assert m.agg(F.sum("n_pii")).collect()[0][0] == 8


def test_url_filter_decisions_and_run_job_urlfilter_mode(spark,
                                                         tmp_path):
    """r6: URL gate (C4/RefinedWeb shape) — scheme/host/registrable-
    domain/normalized-url derivation + blocklist and token rules,
    under the full resume/metrics/run_id contract. Blocklist
    semantics: an entry blocks on exact HOST or registrable DOMAIN
    (subdomains of a registrable entry included, deeper wildcarding
    not implied)."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import url_filter_decisions
    from pdfio_spark.pipeline.run import run_job
    rows = [
        ("https://WWW.Example.COM:443/Path/Q?a=1#frag",),
        ("http://sub.news.co.uk:80/story",),
        ("http://User:Pw@ads.example.com/x",),
        ("https://10.1.2.3:8443/admin",),
        ("mailto:someone@example.com",),
        ("https://spam.example.net/poker-online",),
        ("https://clean.example.org/article",),
    ]
    df = spark.createDataFrame(rows, "url string")
    out = {r.url: r for r in url_filter_decisions(
        df, blocked_domains=["example.com", "news.co.uk"],
        blocked_tokens=("casino", "poker")).collect()}
    r0 = out[rows[0][0]]
    # scheme+host lowercase, default port dropped, fragment stripped,
    # PATH CASE PRESERVED; www.example.com blocks via example.com
    assert (r0.scheme, r0.host, r0.domain) == \
        ("https", "www.example.com", "example.com")
    assert r0.url_norm == "https://www.example.com/Path/Q?a=1"
    assert (list(r0.reasons), r0.status) == (["blocked_domain"],
                                             "dropped")
    # co.uk second-level suffix -> registrable domain news.co.uk
    assert out[rows[1][0]].domain == "news.co.uk"
    assert out[rows[1][0]].status == "dropped"
    # userinfo case preserved in url_norm (credentials are
    # case-sensitive); host-level block via registrable domain
    r2 = out[rows[2][0]]
    assert r2.url_norm == "http://User:Pw@ads.example.com/x"
    assert r2.status == "dropped"
    # IPv4 host: domain == host, no block
    assert (out[rows[3][0]].domain, out[rows[3][0]].status) == \
        ("10.1.2.3", "kept")
    assert set(out[rows[4][0]].reasons) == {"bad_scheme", "no_host"}
    assert list(out[rows[5][0]].reasons) == ["blocked_token"]
    assert out[rows[6][0]].status == "kept"
    # r6 review: NULL url drops (coalesced to '' -> scheme rules
    # fire) and a trailing-dot FQDN neither defeats the blocklist
    # nor corrupts the registrable domain / normalized key
    extra = spark.createDataFrame(
        [(None,), ("https://www.Example.com./x",)], "url string")
    eo = {r.url: r for r in url_filter_decisions(
        extra, blocked_domains=["example.com"]).collect()}
    assert eo[""].status == "dropped"
    assert set(eo[""].reasons) == {"bad_scheme", "no_host"}
    rdot = eo["https://www.Example.com./x"]
    assert (rdot.host, rdot.domain, rdot.status) == \
        ("www.example.com", "example.com", "dropped")
    assert rdot.url_norm == "https://www.example.com/x"
    # DataFrame blocklist input (the UT1-scale surface) agrees
    bl_df = spark.createDataFrame([("EXAMPLE.com",), ("news.co.uk",)],
                                  "entry string")
    out2 = {r.url: r.status for r in url_filter_decisions(
        df, blocked_domains=bl_df,
        blocked_tokens=("casino", "poker")).collect()}
    assert out2 == {u: r.status for u, r in out.items()}

    # production contract: run_id + metrics + exactly-once resume
    inp = str(tmp_path / "uf_in")
    outp = str(tmp_path / "uf_out")
    met = str(tmp_path / "uf_met")
    df.write.parquet(inp)
    uo = {"blocked_domains": ["example.com", "news.co.uk"],
          "blocked_tokens": ["casino", "poker"]}
    r1 = run_job(spark, inp, outp, met, mode="urlfilter",
                 run_id="u1", opts=uo)
    assert r1["by_status"] == {"kept": 2, "dropped": 5}
    spark.createDataFrame([("https://late.example.com/y",)],
                          "url string") \
        .write.mode("append").parquet(inp)
    r2j = run_job(spark, inp, outp, met, mode="urlfilter",
                  resume=True, run_id="u2", opts=uo)
    assert r2j["written"] == 1 and r2j["by_status"] == {"dropped": 1}
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 8
    assert m.agg(F.sum("n_kept")).collect()[0][0] == 2
    assert m.agg(F.sum("n_blocked_domain")).collect()[0][0] == 4
    # typo'd option key fails driver-side; opts rejected off-mode
    with pytest.raises(ValueError, match="unknown urlfilter option keys"):
        run_job(spark, inp, outp, met, mode="urlfilter",
                opts={"blocked_domain": []})
    with pytest.raises(ValueError, match="takes no options"):
        run_job(spark, inp, outp, met, mode="pdf", opts=uo)


def test_urldedup_decisions_and_run_job_mode(spark, tmp_path):
    """late r6: URL-canonical dedup — recrawls of the SAME resource
    (urls that normalize identically) collapse to the
    lexicographically smallest raw url, before any content work."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import urldedup_decisions
    from pdfio_spark.pipeline.run import run_job
    rows = [("https://WWW.Example.com:443/A?q=1#frag",),
            ("https://www.example.com/A?q=1",),   # same resource
            ("https://www.example.com/A?q=1#x",),  # same resource
            ("https://www.example.com/a?q=1",),   # path CASE differs
            ("http://other.org/",), (None,)]
    df = spark.createDataFrame(rows, "url string")
    out = {r.url: r for r in urldedup_decisions(df).collect()}
    assert len(out) == 6
    trio = [out[rows[i][0]] for i in range(3)]
    assert len({r.url_norm for r in trio}) == 1
    assert sum(r.is_kept for r in trio) == 1
    # keeper = lexicographically smallest RAW url of the group
    want = min(rows[i][0] for i in range(3))
    assert all(r.keep_url == want for r in trio)
    # path case is preserved -> a distinct resource
    assert out[rows[3][0]].is_kept
    assert out["http://other.org/"].is_kept
    assert out[""].is_kept  # NULL url -> '' (its own group)
    # production contract: corpus-global resume appends only missing
    inp, outp, met = (str(tmp_path / p) for p in
                      ("ud_in", "ud_out", "ud_met"))
    df.write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="urldedup", run_id="u1")
    assert r1["by_status"] == {"kept": 4, "url_dup": 2}
    spark.createDataFrame([("https://www.example.com/A?q=1&late=1",)],
                          "url string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="urldedup",
                 resume=True, run_id="u2")
    assert r2["written"] == 1
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 7
    assert m.agg(F.sum("n_url_dup")).collect()[0][0] == 2


def test_mix_decisions_and_run_job_mix_mode(spark, tmp_path):
    """r6: data-mixture sampling — per-registrable-domain rates with
    deterministic hash downsampling and epoch-style upsampling
    (n_copies = floor(rate) + fractional coin), under the full
    resume/metrics/run_id contract; mix_apply materializes copies."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import mix_apply, mix_decisions
    from pdfio_spark.pipeline.run import run_job
    rows = ([(f"https://en.heavy.com/a{i}",) for i in range(40)]
            + [(f"https://light.com/b{i}",) for i in range(10)]
            + [(f"https://sub.sampled.com/c{i}",) for i in range(40)]
            + [("https://plain.org/d0",), (None,)])
    df = spark.createDataFrame(rows, "url string")
    w = {"heavy.com": 2.5, "light.com": 0.0, "sampled.com": 0.5}
    dec = mix_decisions(df, weights=w)
    by = {r.url: r for r in dec.collect()}
    assert len(by) == 92
    heavy = [by[f"https://en.heavy.com/a{i}"] for i in range(40)]
    # subdomain resolves to the registrable domain's rate
    assert all(r.domain == "heavy.com" and r.rate == 2.5
               for r in heavy)
    assert all(r.n_copies in (2, 3) and r.status == "upsampled"
               for r in heavy)
    mass = sum(r.n_copies for r in heavy)
    assert 85 <= mass <= 115  # E=100, binomial(40,.5) tail bound
    assert all(by[f"https://light.com/b{i}"].n_copies == 0
               and by[f"https://light.com/b{i}"].status == "dropped"
               for i in range(10))
    samp = [by[f"https://sub.sampled.com/c{i}"] for i in range(40)]
    assert all(r.n_copies in (0, 1) for r in samp)
    n_in = sum(r.n_copies for r in samp)
    assert 8 <= n_in <= 32  # E=20
    # unlisted domain -> default_rate 1.0, exactly one copy
    assert by["https://plain.org/d0"].n_copies == 1
    assert by["https://plain.org/d0"].status == "kept"
    # NULL url coalesces to '' and drops (could never resume)
    assert by[""].n_copies == 0 and by[""].status == "dropped"
    # deterministic re-derivation; a different seed redraws coins
    assert ({tuple(r) for r in mix_decisions(df, weights=w).collect()}
            == {tuple(r) for r in dec.collect()})
    other = {r.url: r.n_copies for r in
             mix_decisions(df, weights=w, seed=7).collect()}
    assert any(other[u] != r.n_copies for u, r in by.items()
               if r.n_copies in (0, 1, 2, 3) and u)
    # DataFrame weights agree with the dict form
    wdf = spark.createDataFrame(sorted(w.items()),
                                "domain string, rate double")
    assert ({tuple(r) for r in
             mix_decisions(df, weights=wdf).collect()}
            == {tuple(r) for r in dec.collect()})
    # mix_apply: copy mass matches, indices 0..n-1 per url
    applied = mix_apply(df.filter("url is not null"), dec)
    total = sum(r.n_copies for r in by.values())
    assert applied.count() == total
    cgrp = (applied.groupBy("url")
            .agg(F.count("*").alias("n"),
                 F.array_sort(F.collect_list("copy")).alias("ix"))
            .collect())
    assert all(list(r.ix) == list(range(r.n)) for r in cgrp)
    # metrics identity: copy mass out equals the applied count
    msum = lineage(dec, "mix", "t").agg(
        F.sum("n_docs"), F.sum("n_copies_out")).collect()[0]
    assert (msum[0], msum[1]) == (92, total)
    # validation: negative rate fails driver-side — BOTH forms (the
    # DataFrame path used to bypass it: floor(-1.0) = -1 copies
    # labeled 'upsampled'); case-colliding entries with different
    # rates are ambiguous and fail; a mixed-case DataFrame entry
    # matches after normalization (it used to silently match nothing)
    with pytest.raises(ValueError, match="negative mix rate"):
        mix_decisions(df, weights={"x.com": -1.0})
    with pytest.raises(ValueError, match="negative mix rate"):
        mix_decisions(df, weights=spark.createDataFrame(
            [("x.com", -1.0)], "domain string, rate double"))
    with pytest.raises(ValueError, match="conflicting mix rates"):
        mix_decisions(df, weights={"Heavy.com": 1.0,
                                   "heavy.com": 2.0})
    with pytest.raises(ValueError, match="negative default_rate"):
        mix_decisions(df, default_rate=-0.5)
    cased = mix_decisions(df, weights=spark.createDataFrame(
        [("LIGHT.com", 0.0)], "domain string, rate double"))
    assert (cased.filter("status = 'dropped'").count() == 11
            )  # 10 light.com + the NULL url
    # identical duplicate entries dedup instead of double-joining
    two = mix_decisions(df, weights={"light.com": 0.0,
                                     "LIGHT.com": 0.0})
    assert two.count() == 92
    # key_col (late r6): weight by ANY column — language-weighted mix;
    # NULL key falls through to default_rate; output carries key_col
    ldf = spark.createDataFrame(
        [("https://a.org/1", "EN"), ("https://a.org/2", "de"),
         ("https://a.org/3", None)],
        "url string, lang string")
    lout = {r.url: r for r in mix_decisions(
        ldf, weights={"en": 2.0, "de": 0.0},
        key_col="lang").collect()}
    assert lout["https://a.org/1"].lang == "en"  # lowercased match
    assert lout["https://a.org/1"].n_copies == 2
    assert lout["https://a.org/2"].status == "dropped"
    assert lout["https://a.org/3"].n_copies == 1  # NULL -> default
    # reserved key_col names fail fast (they collide with decision
    # output columns — a duplicate-field weights schema otherwise
    # only dies deep in the plan)
    with pytest.raises(ValueError, match="collides"):
        mix_decisions(ldf, weights={"x": 1.0}, key_col="rate")

    # production contract: run_id + metrics + exactly-once resume
    inp, outp, met = (str(tmp_path / p) for p in
                      ("mx_in", "mx_out", "mx_met"))
    df.filter("url is not null").write.parquet(inp)
    mo = {"weights": w}
    r1 = run_job(spark, inp, outp, met, mode="mix", run_id="m1",
                 opts=mo)
    assert r1["written"] == 91
    spark.createDataFrame([("https://late.plain.org/z",)],
                          "url string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="mix", resume=True,
                 run_id="m2", opts=mo)
    assert r2["written"] == 1
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 92
    assert (m.agg(F.sum("n_copies_out")).collect()[0][0]
            == total + 1)
    with pytest.raises(ValueError, match="unknown mix option keys"):
        run_job(spark, inp, outp, met, mode="mix",
                opts={"weight": w})
    with pytest.raises(ValueError, match="takes no options"):
        run_job(spark, inp, outp, met, mode="pdf", opts=mo)


def test_run_job_null_url_resume_idempotent(spark, tmp_path):
    """r6 review: a NULL-url input row must not be re-appended on
    every resume — the anti-join's SQL null equality matches nothing,
    so run_job normalizes the key to '' BEFORE the resume filter (an
    operator-side coalesce writes a clean row but sits on the wrong
    side of the anti-join)."""
    from pdfio_spark.pipeline.run import run_job
    rows = [("https://a.org/1",), ("https://b.org/2",), (None,)]
    df = spark.createDataFrame(rows, "url string")
    inp, outp, met = (str(tmp_path / p) for p in ("n_in", "n_out",
                                                  "n_met"))
    df.write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="mix", run_id="n1")
    assert r1["written"] == 3
    # resume with NOTHING new: zero rows reprocessed, zero appended
    r2 = run_job(spark, inp, outp, met, mode="mix", resume=True,
                 run_id="n2")
    assert r2["written"] == 0
    out = spark.read.parquet(outp)
    assert out.count() == 3
    assert out.filter("url = ''").count() == 1
    # same property for a corpus-GLOBAL mode (decision re-derived,
    # but the already-written '' row must not append twice)
    vdf = spark.createDataFrame(
        [("u://1", _axis_vec((0, 1.0))),
         ("u://2", _axis_vec((5, 1.0))),
         (None, _axis_vec((9, 1.0)))],
        "url string, embedding array<double>")
    inp2, outp2, met2 = (str(tmp_path / p) for p in
                         ("g_in", "g_out", "g_met"))
    vdf.write.parquet(inp2)
    so = {"k": 2, "iters": 1, "tau": 0.99}
    rg1 = run_job(spark, inp2, outp2, met2, mode="semdedup",
                  run_id="g1", opts=so)
    assert rg1["written"] == 3
    rg2 = run_job(spark, inp2, outp2, met2, mode="semdedup",
                  resume=True, run_id="g2", opts=so)
    assert rg2["written"] == 0
    out2 = spark.read.parquet(outp2)
    assert out2.count() == 3
    assert out2.filter("url = ''").count() == 1


def test_stream_shard_export_twin(spark, tmp_path):
    """Streaming shard writer: every row lands in the SAME shard dir
    the batch writer assigns (pure-row-function membership), with the
    documented per-batch file-granularity delta."""
    import os
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import shard_export
    from pdfio_spark.pipeline.streaming import stream_shard_export
    rows = [(f"https://s.org/{i}", f"txt {i}") for i in range(400)]
    df = spark.createDataFrame(rows, "url string, text string")
    inp, chk, outp, bout = (str(tmp_path / p) for p in
                            ("ss_in", "ss_chk", "ss_out", "ss_b"))
    df.write.parquet(inp)
    q = stream_shard_export(spark, inp, chk, outp, n_shards=4)
    q.awaitTermination(120)
    shard_export(df, bout, n_shards=4)
    got = {(r.url, r.shard, r.sort_key) for r in
           spark.read.parquet(outp).collect()}
    want = {(r.url, r.shard, r.sort_key) for r in
            spark.read.parquet(bout).collect()}
    assert got == want
    assert {d for d in os.listdir(outp) if d.startswith("shard=")} \
        == {f"shard={s}" for s in range(4)}
    with pytest.raises(ValueError, match="n_shards"):
        stream_shard_export(spark, inp, chk, outp, n_shards=0)


def test_stream_mix_twin(spark, tmp_path):
    """The stateless streaming twin emits byte-identical decisions to
    the batch operator (doc-local rule -> foreachBatch-free map)."""
    from pdfio_spark.pipeline.job import mix_decisions
    from pdfio_spark.pipeline.streaming import stream_stage
    rows = [(f"https://d{i % 5}.example{i % 7}.org/p{i}",)
            for i in range(60)]
    df = spark.createDataFrame(rows, "url string")
    inp, chk, outp = (str(tmp_path / p) for p in
                      ("smx_in", "smx_chk", "smx_out"))
    df.write.parquet(inp)
    w = {"example0.org": 2.0, "example1.org": 0.25}
    q = stream_stage(spark, "mix", inp, chk, outp, opts={"weights": w})
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(outp).collect()}
    want = {tuple(r) for r in
            mix_decisions(df, weights=w).collect()}
    assert got == want
    # a missing/misnamed key column refuses instead of silently
    # default-rating the whole corpus (NULL projection)
    with pytest.raises(ValueError, match="lang"):
        stream_stage(spark, "mix", inp, chk, outp,
                     opts={"key_col": "lang", "weights": {"en": 2.0}})


def test_shard_export(spark, tmp_path):
    """r6: deterministic shuffle-and-shard export — pure-row-function
    shard membership, per-shard internal order, binomial balance,
    byte-stable re-runs, and epoch spreading via (url, copy) keys."""
    import os
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import (mix_apply, mix_decisions,
                                          shard_export)
    n, shards = 2000, 8
    df = spark.createDataFrame(
        [(f"https://ex.org/{i}", f"text {i}") for i in range(n)],
        "url string, text string")
    out = str(tmp_path / "sh")
    shard_export(df, out, n_shards=shards)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.select("url").distinct().count() == n
    sizes = {r.shard: r.n for r in
             back.groupBy("shard").agg(F.count("*").alias("n"))
             .collect()}
    assert set(sizes) == set(range(shards))
    # binomial balance: E=250, sd~15 -> generous 5-sigma band
    assert all(175 <= v <= 325 for v in sizes.values())
    # exactly one data file per shard dir, rows sorted within
    for s in range(shards):
        d = os.path.join(out, f"shard={s}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1
    one = (back.filter("shard = 3")
           .select("sort_key").toPandas()["sort_key"].tolist())
    assert one == sorted(one)
    # membership is a pure row function: recomputable from the row
    chk = back.withColumn(
        "want", F.pmod(F.xxhash64("url", F.lit(0)), F.lit(shards))
        .cast("int"))
    assert chk.filter("shard != want").count() == 0
    # byte-stable re-run: identical per-shard url sequences
    out2 = str(tmp_path / "sh2")
    shard_export(df, out2, n_shards=shards)
    a = {(r.shard, r.sort_key, r.url) for r in
         spark.read.parquet(out).collect()}
    b = {(r.shard, r.sort_key, r.url) for r in
         spark.read.parquet(out2).collect()}
    assert a == b
    # a different seed is a different permutation
    out3 = str(tmp_path / "sh3")
    shard_export(df, out3, n_shards=shards, seed=9)
    c = {(r.shard, r.url) for r in spark.read.parquet(out3).collect()}
    assert c != {(s, u) for s, _, u in a}
    # epochs spread: after 3x upsampling, (url, copy) keys place a
    # url's copies in >1 shard for most urls
    dec = mix_decisions(df.select("url"),
                        weights={"ex.org": 3.0})
    rep = mix_apply(df, dec)
    out4 = str(tmp_path / "sh4")
    shard_export(rep, out4, n_shards=shards,
                 key_cols=("url", "copy"))
    b4 = spark.read.parquet(out4)
    assert b4.count() == n * 3
    spread = (b4.groupBy("url")
              .agg(F.countDistinct("shard").alias("k")))
    n_spread = spread.filter("k >= 2").count()
    assert n_spread > n * 0.8  # P(all 3 copies same shard) = 1/64
    with pytest.raises(ValueError, match="n_shards"):
        shard_export(df, str(tmp_path / "bad"), n_shards=0)
    # r6 review: the exchange routes on driver-searched tokens so
    # every shard gets its OWN task (repartition on the raw shard id
    # hashes murmur3 % n: balls-into-bins -> empty tasks + stragglers
    # holding several shards). Alignment property, then observed
    # task-level balance on the same routed plan the writer builds.
    from pdfio_spark.pipeline.job import _mmh3_int, _shard_route
    # the pure-Python murmur3 must match Spark's Murmur3Hash
    # expression bit-for-bit — the whole routing rests on it
    hrows = spark.range(-500, 500).select(
        "id", F.hash(F.col("id").cast("int")).alias("h")).collect()
    assert all(_mmh3_int(int(r.id)) == r.h for r in hrows)
    toks = _shard_route(shards)
    assert sorted(toks) == list(range(shards))
    routed = (back.withColumn(
        "_route", F.element_at(
            F.array(*[F.lit(toks[s]).cast("int")
                      for s in range(shards)]),
            F.col("shard") + 1))
        .repartition(shards, F.col("_route"))
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.countDistinct("shard").alias("k")).collect())
    assert len(routed) == shards
    assert all(r.k == 1 for r in routed)


def test_decontam_decisions_and_run_job_mode(spark, tmp_path):
    """r6: benchmark decontamination (GPT-3 App. C 13-gram rule,
    k=5 here for fixture brevity) — docs sharing any k-token span
    with the eval set drop; both sides hash through the SAME
    substr_gram_melt kernel as ExactSubstr dedup."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import decontam_decisions
    from pdfio_spark.pipeline.run import run_job
    eval_q = "what is the capital of france paris of course"
    rows = [
        # contains the eval 5-gram "what is the capital of"
        ("d://leak1", "quiz time what is the capital of france asked"),
        # contains a different eval span (exactly one 5-gram)
        ("d://leak2", "he said of france paris of course and smiled"),
        ("d://clean", "entirely original prose about gardens"),
        ("d://short", "tiny"),
        ("d://null", None),
    ]
    corpus = spark.createDataFrame(rows, "url string, text string")
    out = {r.url: r for r in decontam_decisions(
        corpus, [eval_q], k=5).collect()}
    assert out["d://leak1"].status == "dropped"
    assert out["d://leak1"].n_contam_grams >= 1
    assert out["d://leak2"].status == "dropped"
    assert out["d://clean"].status == "kept"
    assert out["d://short"].status == "kept"   # < k tokens: no grams
    assert out["d://null"].status == "kept"
    # r6 review: leak1's two overlapping grams are ONE independent
    # span; min_hits counts spans, not raw gram occurrences
    assert (out["d://leak1"].n_contam_grams,
            out["d://leak1"].n_contam_spans) == (2, 1)
    strict = {r.url: r.status for r in decontam_decisions(
        corpus, [eval_q], k=5, min_hits=2).collect()}
    assert strict["d://leak1"] == "kept"
    assert strict["d://leak2"] == "kept"
    # r6 review: whitespace normalizes before hashing — a shared
    # span crossing a LINE BREAK still contaminates
    nl = spark.createDataFrame(
        [("d://nl", "quiz what is the\ncapital of france indeed")],
        "url string, text string")
    assert decontam_decisions(nl, [eval_q], k=5) \
        .collect()[0].status == "dropped"
    # DataFrame benchmark input agrees with the list form
    bdf = spark.createDataFrame([(eval_q,)], "text string")
    out2 = {r.url: r.status for r in decontam_decisions(
        corpus, bdf, k=5).collect()}
    assert out2 == {u: r.status for u, r in out.items()}

    # production contract: benchmark_path + metrics + resume
    inp = str(tmp_path / "dc_in")
    outp = str(tmp_path / "dc_out")
    met = str(tmp_path / "dc_met")
    bp = str(tmp_path / "dc_bench")
    corpus.write.parquet(inp)
    bdf.write.parquet(bp)
    do = {"benchmark_path": bp, "k": 5}
    r1 = run_job(spark, inp, outp, met, mode="decontam",
                 run_id="dc1", opts=do)
    assert r1["by_status"] == {"kept": 3, "dropped": 2}
    spark.createDataFrame(
        [("d://late", "the capital of france paris again here")],
        "url string, text string").write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="decontam",
                 resume=True, run_id="dc2", opts=do)
    assert r2["written"] == 1 and r2["by_status"] == {"dropped": 1}
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 6
    assert m.agg(F.sum("n_contaminated")).collect()[0][0] == 3
    # option fail-fast: typo'd key, both/neither benchmark source
    with pytest.raises(ValueError, match="unknown decontam option keys"):
        run_job(spark, inp, outp, met, mode="decontam",
                opts={"bench_path": bp})
    with pytest.raises(ValueError, match="exactly one"):
        run_job(spark, inp, outp, met, mode="decontam",
                opts={})
    with pytest.raises(ValueError, match="takes no options"):
        run_job(spark, inp, outp, met, mode="pdf", opts=do)


def test_domain_cap_decisions_and_run_job_mode(spark, tmp_path):
    """r6: per-domain cap — deterministic unsigned-xxhash64 order,
    computed via the q_skew_diagnosis exact-rank decomposition
    (bucket histogram + within-bucket row_number) so a hot domain
    spreads over 1024 tasks instead of one."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import domain_cap_decisions
    from pdfio_spark.pipeline.run import run_job
    urls = ([f"https://big.example.com/p/{i}" for i in range(7)]
            + [f"https://www.big.example.com/q/{i}" for i in range(4)]
            + [f"https://small.example.org/{i}" for i in range(2)]
            + ["https://solo.example.net/x"])
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    CAP = 3
    out = domain_cap_decisions(df, max_per_domain=CAP).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.domain, []).append(r)
    # big.example.com + www subdomain share the registrable domain
    assert {d: len(v) for d, v in by_dom.items()} == {
        "example.com": 11, "example.org": 2, "example.net": 1}
    for d, rows in by_dom.items():
        kept = [r for r in rows if r.status == "kept"]
        assert len(kept) == min(len(rows), CAP)
        # ranks are exactly 1..n (the decomposition is a true
        # permutation rank, not bucket-local)
        assert sorted(r.domain_rank for r in rows) == \
            list(range(1, len(rows) + 1))
    # the keep set is EXACTLY the unsigned-hash-smallest CAP urls —
    # recompute the truth driver-side from the engine's own hashes
    hs = {r.url: r.h % 2 ** 64 for r in
          df.select("url", F.xxhash64("url").alias("h")).collect()}
    want_kept = set()
    for d, rows in by_dom.items():
        ordered = sorted((hs[r.url], r.url) for r in rows)
        want_kept |= {u for _, u in ordered[:CAP]}
    assert {r.url for r in out if r.status == "kept"} == want_kept
    # deterministic across runs
    again = {(r.url, r.status) for r in
             domain_cap_decisions(df, max_per_domain=CAP).collect()}
    assert again == {(r.url, r.status) for r in out}

    # production contract: corpus-global resume (a new doc can only
    # APPEND decisions; previously written rows are immutable)
    inp = str(tmp_path / "dc2_in")
    outp = str(tmp_path / "dc2_out")
    met = str(tmp_path / "dc2_met")
    df.write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="domaincap",
                 run_id="cap1",
                 opts={"max_per_domain": CAP})
    assert r1["by_status"] == {"kept": 6, "dropped": 8}
    spark.createDataFrame([("https://solo.example.net/y",)],
                          "url string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="domaincap",
                 resume=True, run_id="cap2",
                 opts={"max_per_domain": CAP})
    assert r2["written"] == 1
    with pytest.raises(ValueError, match="unknown domaincap option keys"):
        run_job(spark, inp, outp, met, mode="domaincap",
                opts={"cap": 1})
    with pytest.raises(ValueError, match="takes no options"):
        run_job(spark, inp, outp, met, mode="pdf",
                opts={"max_per_domain": CAP})


def test_domain_token_cap(spark, tmp_path):
    """late r6: token-budget domain cap — same exact-rank
    decomposition with a weighted histogram + within-bucket running
    token sum; a doc keeps while tokens accumulated BEFORE it (hash
    order) are under the budget, so the budget overshoots by at most
    the crossing doc."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import domain_cap_decisions
    from pdfio_spark.pipeline.run import run_job
    rows = [(f"https://big.com/{i}", " ".join(["tok"] * (10 * (i + 1))))
            for i in range(6)]
    rows += [("https://small.org/a", "just four tokens here")]
    df = spark.createDataFrame(rows, "url string, text string")
    BUDGET = 100
    out = {r.url: r for r in domain_cap_decisions(
        df, max_per_domain=None,
        max_tokens_per_domain=BUDGET).collect()}
    # closed-form truth from the engine's own hash order
    hs = {r.url: r.h % 2 ** 64 for r in
          df.select("url", F.xxhash64("url").alias("h")).collect()}
    toks = {u: len(t.split()) for u, t in rows}
    cum = 0
    for u in sorted((u for u, _ in rows[:6]), key=lambda u: hs[u]):
        want = "kept" if cum < BUDGET else "dropped"
        assert out[u].status == want, u
        assert out[u].domain_tokens_before == cum
        if out[u].status == "dropped":
            assert list(out[u].reasons) == ["domain_token_cap"]
        cum += toks[u]
    assert out["https://small.org/a"].status == "kept"
    assert out["https://small.org/a"].domain_tokens_before == 0
    # both caps compose: rank cap fires independently of token cap
    both = {r.url: r for r in domain_cap_decisions(
        df, max_per_domain=1,
        max_tokens_per_domain=BUDGET).collect()}
    for u, _ in rows[:6]:
        r = both[u]
        wantr = []
        if r.domain_rank > 1:
            wantr.append("domain_cap")
        if r.domain_tokens_before >= BUDGET:
            wantr.append("domain_token_cap")
        assert list(r.reasons) == wantr, u
    assert sum(r.status == "kept" for r in both.values()) == 2
    with pytest.raises(ValueError, match="at least one"):
        domain_cap_decisions(df, max_per_domain=None,
                             max_tokens_per_domain=None)
    with pytest.raises(ValueError, match="max_tokens_per_domain"):
        domain_cap_decisions(df, max_tokens_per_domain=-1)
    # r6 review: setting ONLY the token budget must not silently
    # compose the 100k doc-cap default in — token-only without
    # max_per_domain equals token-only with an explicit None
    only_tok = {(r.url, r.status, tuple(r.reasons)) for r in
                domain_cap_decisions(
                    df, max_tokens_per_domain=BUDGET).collect()}
    assert only_tok == {(r.url, r.status, tuple(r.reasons))
                        for r in out.values()}
    # run_job plumbing: the token variant reads (url, text)
    inp, outp, met = (str(tmp_path / p) for p in
                      ("tc_in", "tc_out", "tc_met"))
    df.write.parquet(inp)
    r1 = run_job(spark, inp, outp, met, mode="domaincap",
                 run_id="tc1",
                 opts={"max_per_domain": None,
                       "max_tokens_per_domain": BUDGET})
    want_kept = sum(r.status == "kept" for r in out.values())
    assert r1["by_status"].get("kept") == want_kept


def test_corpus_global_resume_displacement_warns(spark, tmp_path):
    """r6 review: corpus-global resume is crash recovery over an
    UNCHANGED snapshot — when input appended between runs displaces
    an already-written decision (here: a hash-smaller doc entering a
    full domain cap), run_job must warn instead of silently
    violating the invariant (written rows are immutable)."""
    import warnings as _w
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    u1, u2 = "https://d.example.com/a", "https://d.example.com/b"
    hs = {r.url: r.h % 2 ** 64 for r in spark.createDataFrame(
        [(u1,), (u2,)], "url string")
        .select("url", F.xxhash64("url").alias("h")).collect()}
    first = u1 if hs[u1] > hs[u2] else u2   # run 1: larger hash
    second = u2 if first == u1 else u1      # appended: displaces it
    inp = str(tmp_path / "disp_in")
    outp = str(tmp_path / "disp_out")
    spark.createDataFrame([(first,)], "url string").write.parquet(inp)
    r1 = run_job(spark, inp, outp, None, mode="domaincap",
                 run_id="w1", opts={"max_per_domain": 1})
    assert r1["by_status"] == {"kept": 1}
    # unchanged snapshot: clean crash-recovery resume stays silent
    with _w.catch_warnings():
        _w.simplefilter("error")
        r2 = run_job(spark, inp, outp, None, mode="domaincap",
                     resume=True, run_id="w2",
                     opts={"max_per_domain": 1})
    assert r2["written"] == 0
    spark.createDataFrame([(second,)], "url string") \
        .write.mode("append").parquet(inp)
    with pytest.warns(UserWarning, match="diverge"):
        r3 = run_job(spark, inp, outp, None, mode="domaincap",
                     resume=True, run_id="w3",
                     opts={"max_per_domain": 1})
    assert r3["by_status"] == {"kept": 1}  # the documented violation
    out = spark.read.parquet(outp)
    assert out.filter("status = 'kept'").count() == 2
    # ...and the violated table keeps warning on every later resume
    with pytest.warns(UserWarning, match="diverge"):
        r4 = run_job(spark, inp, outp, None, mode="domaincap",
                     resume=True, run_id="w4",
                     opts={"max_per_domain": 1})
    assert r4["written"] == 0


def test_stream_domain_cap(spark, tmp_path):
    """Streaming twin: arrival-order cap, counter state persists
    across runs on the same checkpoint."""
    from pdfio_spark.pipeline.run import run_job
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "sdc_in")
    chk = str(tmp_path / "sdc_chk")
    outp = str(tmp_path / "sdc_out")
    spark.createDataFrame(
        [(f"https://hot.example.com/{i}",) for i in range(5)],
        "url string").coalesce(1).write.parquet(inp)
    q = stream_stage(spark, "domaincap", inp, chk, outp,
                     opts={"max_per_domain": 3})
    q.awaitTermination(120)
    out1 = spark.read.parquet(outp)
    assert out1.filter("kept").count() == 3
    assert out1.count() == 5
    # second run: the domain's counter is already exhausted
    spark.createDataFrame([("https://hot.example.com/late",),
                           ("https://fresh.example.org/a",)],
                          "url string") \
        .coalesce(1).write.mode("append").parquet(inp)
    q2 = stream_stage(spark, "domaincap", inp, chk, outp,
                      opts={"max_per_domain": 3})
    q2.awaitTermination(60)
    out2 = {r.url: r.kept for r in
            spark.read.parquet(outp).collect()}
    assert len(out2) == 7
    assert out2["https://hot.example.com/late"] is False
    assert out2["https://fresh.example.org/a"] is True
    # token-budget twin (late r6): uniform 30-token docs make the
    # arrival-order decision ORDER-INDEPENDENT — budget 100 admits
    # exactly 4 (tokens_before 0/30/60/90 < 100); the under-budget
    # domain keeps everything; the state survives a second run
    inp2, chk2, outp2 = (str(tmp_path / p) for p in
                         ("sdt_in", "sdt_chk", "sdt_out"))
    t30 = " ".join(["tok"] * 30)
    rows = ([(f"https://hot.example.com/{i}", t30) for i in range(10)]
            + [("https://cool.example.org/a", t30)])
    spark.createDataFrame(rows, "url string, text string") \
        .coalesce(1).write.parquet(inp2)
    qt = stream_stage(spark, "domaincap", inp2, chk2, outp2,
                      opts={"max_tokens_per_domain": 100})
    qt.awaitTermination(120)
    ot = spark.read.parquet(outp2)
    hot = ot.filter("domain = 'example.com'")
    assert hot.filter("kept").count() == 4  # NO doc-cap composed in
    assert hot.count() == 10
    assert ot.filter("domain = 'example.org' and kept").count() == 1
    spark.createDataFrame([("https://hot.example.com/late", t30)],
                          "url string, text string") \
        .coalesce(1).write.mode("append").parquet(inp2)
    qt2 = stream_stage(spark, "domaincap", inp2, chk2, outp2,
                       opts={"max_tokens_per_domain": 100})
    qt2.awaitTermination(60)
    late = {r.url: r.kept for r in
            spark.read.parquet(outp2).collect()}
    assert late["https://hot.example.com/late"] is False
    with pytest.raises(ValueError, match="max_tokens_per_domain"):
        stream_stage(spark, "domaincap", inp2, chk2, outp2,
                     opts={"max_tokens_per_domain": -5})
    # a text-less source must refuse token mode (the NULL projection
    # would count every doc as 1 token — a silent doc cap)
    with pytest.raises(ValueError, match="text"):
        stream_stage(spark, "domaincap", inp, chk2, outp2,
                     opts={"max_tokens_per_domain": 100})
    # no limit at all is refused as the batch mode refuses it, not
    # silently capped at the omitted-cap default
    for start in (
            lambda o: run_job(spark, inp, outp2, mode="domaincap", opts=o),
            lambda o: stream_stage(spark, "domaincap", inp, chk2, outp2,
                                   opts=o)):
        with pytest.raises(ValueError, match="at least one of"):
            start({"max_per_domain": None})


def test_stream_url_filter(spark, tmp_path):
    """Streaming twin of --mode urlfilter: exactly-once decisions."""
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "suf_in")
    chk = str(tmp_path / "suf_chk")
    outp = str(tmp_path / "suf_out")
    spark.createDataFrame(
        [("https://ok.example.org/a",), ("http://bad.example.com/b",)],
        "url string").write.parquet(inp)
    q = stream_stage(spark, "urlfilter", inp, chk, outp,
                     opts={"blocked_domains": ["example.com"]})
    q.awaitTermination(120)
    out = {r.url: r.status for r in
           spark.read.parquet(outp).collect()}
    assert out == {"https://ok.example.org/a": "kept",
                   "http://bad.example.com/b": "dropped"}


def test_stream_pii_scrub(spark, tmp_path):
    """Streaming twin of --mode pii: exactly-once redaction."""
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "spii_in")
    chk = str(tmp_path / "spii_chk")
    outp = str(tmp_path / "spii_out")
    spark.createDataFrame(
        [("s://a", "mail me a@b.co"), ("s://b", "no pii here")],
        "url string, text string").write.parquet(inp)
    q = stream_stage(spark, "pii", inp, chk, outp)
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 2
    assert (out.filter("url = 's://a'").collect()[0]["text"]
            == "mail me <EMAIL>")
    q2 = stream_stage(spark, "pii", inp, chk, outp)
    q2.awaitTermination(60)
    assert spark.read.parquet(outp).count() == 2  # nothing reprocessed
    # a url-only input has no text to scrub: refused, not a stream of
    # NULL texts
    url_only = str(tmp_path / "spii_urls")
    spark.createDataFrame([("s://c",)], "url string").write.parquet(
        url_only)
    with pytest.raises(ValueError, match="text"):
        stream_stage(spark, "pii", url_only, chk + "2", outp + "2")
    # a landing dir no file has reached yet has nothing to check: the
    # stream still starts
    empty = tmp_path / "spii_empty"
    empty.mkdir()
    q3 = stream_stage(spark, "pii", str(empty), chk + "3", outp + "3")
    q3.awaitTermination(60)
    assert q3.exception() is None


def test_stream_quality_filter(spark, tmp_path):
    """Streaming twin of --mode filter: exactly-once decisions."""
    from pdfio_spark.pipeline.streaming import stream_stage
    inp = str(tmp_path / "sqf_in")
    chk = str(tmp_path / "sqf_chk")
    outp = str(tmp_path / "sqf_out")
    spark.createDataFrame(_quality_corpus(),
                          "url string, text string").write.parquet(inp)
    q = stream_stage(spark, "filter", inp, chk, outp)
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 4
    assert out.filter("status = 'kept'").count() == 1
    q2 = stream_stage(spark, "filter", inp, chk, outp)
    q2.awaitTermination(60)
    assert spark.read.parquet(outp).count() == 4  # nothing reprocessed


def test_training_pipeline_filter_then_dedup(spark, tmp_path):
    """The composed training-data prep a real pipeline runs: quality
    gate FIRST (cheap map-only pass shrinks the corpus), dedup on the
    survivors, final corpus = kept ∩ quality-passed. Both stages
    through run_job, chained on parquet — the multi-stage launch
    shape at 100 TB (each stage resumable independently)."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    # distinct docs use disjoint vocabularies: one shared token in 60
    # must NOT trip the near-dup stage (it correctly lumps texts that
    # differ in a single word — an earlier fixture learned that)
    def text(i):
        return ("the and of is "
                + " ".join(f"w{i}x{j}" for j in range(56)))
    rows = ([(f"p://{i}", text(i)) for i in range(6)]
            # 3 exact copies of doc 0's text under new urls
            + [(f"p://dup{i}", text(0)) for i in range(3)]
            + [("p://junk", "spam ham " * 40)])
    inp = str(tmp_path / "tp_in")
    fout = str(tmp_path / "tp_filtered")
    dout = str(tmp_path / "tp_decisions")
    spark.createDataFrame(rows, "url string, text string") \
        .write.parquet(inp)
    # stage 1: quality gate
    r1 = run_job(spark, inp, fout, None, mode="filter", run_id="tp1")
    assert r1["by_status"] == {"kept": 9, "dropped": 1}
    # stage 2: dedup over the kept docs — needs (url, text); the
    # decision output carries metrics, not text, so join back
    kept = (spark.read.parquet(fout).filter("status = 'kept'")
            .select("url"))
    src = spark.read.parquet(inp)
    kin = str(tmp_path / "tp_kept")
    src.join(kept, "url").write.parquet(kin)
    r2 = run_job(spark, kin, dout, None, mode="dedup", run_id="tp2")
    assert r2["written"] == 9
    dec = spark.read.parquet(dout)
    # doc 0's text has 4 urls total -> 1 kept, 3 exact dups
    assert dec.filter("status = 'exact_dup'").count() == 3
    final = src.join(dec.filter("status = 'kept'").select("url"),
                     "url")
    assert final.count() == 6  # 6 distinct quality-passing texts
    # junk never reached dedup
    assert dec.filter("url = 'p://junk'").count() == 0


def test_run_job_subdoc_dedup_modes_crash_resume(spark, tmp_path):
    """r6: --mode linededup / --mode substrdedup — the sub-document
    dedup operators under the production contract. Both are
    corpus-GLOBAL (a line/span decision depends on every other doc),
    so resume re-derives the full decision set and appends only the
    rows a crash failed to write: the final table must equal an
    uninterrupted run."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    from pdfio_spark.pipeline.job import (linededup_decisions,
                                          substrdedup_decisions)
    nav = "subscribe to our newsletter"
    rows = [("doc://0", nav + "\nalpha body text"),
            ("doc://1", nav + "\nbeta body text"),
            ("doc://2", "gamma only unique content"),
            ("doc://2", "gamma only unique content")]  # recrawl
    df = spark.createDataFrame(rows, "url string, text string")
    inp = str(tmp_path / "sdd_in")
    df.write.parquet(inp)

    # --- linededup: full contract + crash resume ---
    outp = str(tmp_path / "sdd_out")
    met = str(tmp_path / "sdd_met")
    (linededup_decisions(df).limit(1)
     .withColumn("run_id", F.lit("r1")).write.parquet(outp))
    r = run_job(spark, inp, outp, met, resume=True, mode="linededup",
                run_id="r2")
    assert r["written"] == 2
    out = spark.read.parquet(outp)
    assert out.count() == 3  # one decision per distinct url
    want = {(x.url, x.n_lines, x.n_kept, x.text_out, x.status)
            for x in linededup_decisions(df).collect()}
    got = {(x.url, x.n_lines, x.n_kept, x.text_out, x.status)
           for x in out.collect()}
    assert got == want
    by_url = {x.url: x for x in out.collect()}
    # exactly one of doc://0 / doc://1 keeps the shared nav line
    deduped = [u for u in ("doc://0", "doc://1")
               if by_url[u].status == "deduped"]
    assert len(deduped) == 1
    assert by_url["doc://2"].status == "intact"
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 3
    assert m.agg(F.sum("n_deduped")).collect()[0][0] == 1

    # --- substrdedup: decisions + metrics (same machinery) ---
    k10a = " ".join(f"w{i}" for i in range(12))  # shared 12-token span
    rows2 = [("doc://a", k10a + " tail alpha"),
             ("doc://b", k10a + " tail beta"),
             ("doc://c", "short unique")]
    df2 = spark.createDataFrame(rows2, "url string, text string")
    inp2 = str(tmp_path / "sdd_in2")
    outp2 = str(tmp_path / "sdd_out2")
    met2 = str(tmp_path / "sdd_met2")
    df2.write.parquet(inp2)
    r2 = run_job(spark, inp2, outp2, met2, mode="substrdedup",
                 run_id="s1")
    assert r2["written"] == 3
    by2 = {x.url: x for x in spark.read.parquet(outp2).collect()}
    dd = [u for u in ("doc://a", "doc://b")
          if by2[u].status == "deduped"]
    assert len(dd) == 1  # one copy of the shared span survives
    # shared prefix is 13 tokens (w0..w11 + 'tail') -> 4 dup grams
    # covering tokens 0..12; only the last token survives
    assert (by2[dd[0]].n_dup_starts, by2[dd[0]].n_kept) == (4, 1)
    assert by2["doc://c"].status == "intact"
    m2 = spark.read.parquet(met2)
    assert m2.agg(F.sum("n_docs")).collect()[0][0] == 3
    assert m2.agg(F.sum("n_dup_starts")).collect()[0][0] == 4
    # second derivation deterministic (the recrawl/min-text rule)
    again = {(x.url, x.n_kept) for x in
             substrdedup_decisions(df2).collect()}
    assert again == {(x.url, x.n_kept) for x in by2.values()}


def test_run_job_dedup_mode_crash_resume(spark, tmp_path):
    """Production dedup path (r6): run_job --mode dedup writes one
    keep decision per url under the resume/metrics/run_id contract.
    Dedup is corpus-GLOBAL, so the crash-resume contract differs from
    the per-doc modes: resume re-derives the deterministic decision
    set over the FULL input snapshot and appends only the rows the
    crashed run failed to write — the final table must be IDENTICAL
    to an uninterrupted run, and the crashed run's missing metrics
    must be reconciled from its committed rows."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    from pdfio_spark.pipeline.job import dedup_decisions
    inp = str(tmp_path / "dd_in")
    outp = str(tmp_path / "dd_out")
    met = str(tmp_path / "dd_met")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide field all day long without rest")
    near = base.replace("rest", "pause")  # band-collides with base
    other = ("completely different content about spark catalyst "
             "optimizer internals and adaptive query execution plans")
    pairtxt = "an exact duplicate pair lives here with its twin today"
    rows = [("doc://0", base), ("doc://1", base), ("doc://2", base),
            ("doc://3", near), ("doc://4", other),
            ("doc://5", pairtxt), ("doc://6", pairtxt),
            ("doc://4", other)]  # url crawled TWICE -> ONE decision
    df = spark.createDataFrame(rows, "url string, text string")
    df.write.parquet(inp)
    # crash simulation: run r1 derived the full decision set but died
    # after committing only 3 output rows and BEFORE its metrics append
    (dedup_decisions(df).limit(3)
     .withColumn("run_id", F.lit("r1")).write.parquet(outp))
    r = run_job(spark, inp, outp, met, resume=True, mode="dedup",
                run_id="r2")
    assert r["written"] == 4
    out = spark.read.parquet(outp)
    assert out.count() == 7
    assert out.select("url").distinct().count() == 7
    # decisions are globally correct despite the partial first write:
    # identical to an uninterrupted run over the same snapshot
    want = {(x.url, x.keep_url, x.is_kept, x.status)
            for x in dedup_decisions(df).collect()}
    got = {(x.url, x.keep_url, x.is_kept, x.status)
           for x in out.collect()}
    assert got == want
    by_url = {x.url: x for x in out.collect()}
    # cluster structure (keeper identity depends on xxhash64(url)
    # ordering, so assert shape, not which url wins): the exact
    # triple 0/1/2 plus near-dup 3 form ONE cluster with ONE keeper
    cluster = [by_url[f"doc://{i}"] for i in range(4)]
    assert len({x.keep_url for x in cluster}) == 1
    assert sum(x.is_kept for x in cluster) == 1
    assert sum(x.status == "exact_dup" for x in cluster) == 2
    assert by_url["doc://4"].status == "kept"
    assert by_url["doc://4"].keep_url == "doc://4"
    assert {by_url["doc://5"].status, by_url["doc://6"].status} == \
        {"kept", "exact_dup"}
    assert by_url["doc://5"].keep_url == by_url["doc://6"].keep_url
    # metrics: r2's direct rows + r1's RECONCILED rows cover all 7 docs
    m = spark.read.parquet(met)
    assert m.filter("run_id = 'r1'").count() > 0
    assert bool(m.filter("run_id = 'r1'").collect()[0]["reconciled"])
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 7
    assert m.agg(F.sum("n_kept")).collect()[0][0] == 3


def _axis_vec(*pairs, dim=64):
    v = [0.0] * dim
    for i, x in pairs:
        v[i] = float(x)
    return v


def test_semdedup_over_semantics(spark):
    """SemDeDup (r6): embedding-cluster semantic dedup. A >tau-
    connected group keeps exactly its min-(c_sim, vec_id) member (the
    paper's farthest-from-centroid criterion), chains collapse
    transitively (the documented CC delta vs the greedy scan),
    sub-tau members stay kept, and the double run is deterministic."""
    from pdfio_spark.pipeline.queries import semdedup_over
    rows = [
        (0, _axis_vec((0, 1.0))),             # A base
        (1, _axis_vec((63, 1.0))),            # B base (init spans both)
        (2, _axis_vec((0, 1.0), (1, 0.05))),  # near twin of 0
        (3, _axis_vec((0, 1.0), (2, 0.06))),  # twin of 0 -> chain 2~0~3
        (4, _axis_vec((0, 1.0), (5, 0.5))),   # A member, cos~0.89 to 0
        (5, _axis_vec((0, 1.0), (6, 0.5))),   # A member
        (6, _axis_vec((63, 1.0), (10, 0.5))),  # B member
        (7, _axis_vec((63, 1.0), (11, 0.05))),  # near twin of 1
    ]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    out = semdedup_over(df, k=2, iters=2, tau=0.95)
    by = {r.vec_id: r for r in out.collect()}
    assert len(by) == 8  # one row per vector
    # the twin trio {0,2,3} is ONE component with ONE keeper
    trio = [by[i] for i in (0, 2, 3)]
    assert len({r.keep_id for r in trio}) == 1
    assert sum(r.is_kept for r in trio) == 1
    # keeper = min by (c_sim, vec_id) within the component
    want_keep = min(trio, key=lambda r: (r.c_sim, r.vec_id)).vec_id
    assert trio[0].keep_id == want_keep
    # the B twin pair {1,7} likewise
    pair = [by[i] for i in (1, 7)]
    assert len({r.keep_id for r in pair}) == 1
    assert sum(r.is_kept for r in pair) == 1
    assert pair[0].keep_id == min(pair,
                                  key=lambda r: (r.c_sim, r.vec_id)
                                  ).vec_id
    # sub-tau members are singletons: kept, keep_id = self
    for i in (4, 5, 6):
        assert by[i].is_kept and by[i].keep_id == i
    # clusters actually separated A from B (Lloyd assignment sanity)
    assert by[0].c_id != by[1].c_id
    assert by[4].c_id == by[0].c_id and by[6].c_id == by[1].c_id
    # deterministic re-derivation (the corpus-global resume contract)
    again = {tuple(r) for r in
             semdedup_over(df, k=2, iters=2, tau=0.95).collect()}
    assert again == {tuple(r) for r in out.collect()}
    # nprobe=2 pair-join melt: a superset of comparisons, so every
    # nprobe=1 collapse survives; keep rule (top-1 c_sim) unchanged;
    # on this fixture (no boundary-straddling pairs) output identical
    np2 = {tuple(r) for r in
           semdedup_over(df, k=2, iters=2, tau=0.95,
                         nprobe=2).collect()}
    assert np2 == {tuple(r) for r in out.collect()}
    # nprobe=0 (silent top-1 degrade) and JSON-template strings fail
    # fast instead of misbehaving at plan time
    for bad in (0, -1, "2"):
        with pytest.raises(ValueError, match="nprobe"):
            semdedup_over(df, k=2, nprobe=bad)


def test_run_job_semdedup_mode_crash_resume(spark, tmp_path):
    """run.py --mode semdedup under the corpus-global resume
    contract: crash after a partial output append -> resume
    re-derives the decision set over the full snapshot, appends only
    the missing rows, reconciles the crashed run's metrics — final
    table identical to an uninterrupted run."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import semdedup_decisions
    from pdfio_spark.pipeline.run import run_job
    urls = [f"doc://{i}" for i in range(8)]
    vecs = [_axis_vec((0, 1.0)),
            _axis_vec((63, 1.0)),
            _axis_vec((0, 1.0), (1, 0.05)),   # twin of doc 0
            _axis_vec((0, 1.0), (2, 0.06)),   # twin of doc 0
            _axis_vec((0, 1.0), (5, 0.5)),
            _axis_vec((0, 1.0), (6, 0.5)),
            _axis_vec((63, 1.0), (10, 0.5)),
            _axis_vec((63, 1.0), (11, 0.05))]  # twin of doc 1
    rows = list(zip(urls, vecs))
    # url recrawled with a CHANGED vector -> still ONE decision row,
    # resolved by min(embedding) on every derivation
    rows.append(("doc://6", _axis_vec((63, 1.0), (10, 0.4))))
    df = spark.createDataFrame(rows,
                               "url string, embedding array<double>")
    inp, outp, met = (str(tmp_path / p) for p in ("in", "out", "met"))
    df.write.parquet(inp)
    so = {"k": 2, "iters": 2, "tau": 0.95}
    # crash simulation: run s1 committed 3 output rows, no metrics
    (semdedup_decisions(df, **so).limit(3)
     .withColumn("run_id", F.lit("s1")).write.parquet(outp))
    r = run_job(spark, inp, outp, met, resume=True, mode="semdedup",
                run_id="s2", opts=so)
    assert r["written"] == 5
    out = spark.read.parquet(outp)
    assert out.count() == 8
    assert out.select("url").distinct().count() == 8
    want = {(x.url, x.keep_url, x.is_kept, x.status)
            for x in semdedup_decisions(df, **so).collect()}
    got = {(x.url, x.keep_url, x.is_kept, x.status)
           for x in out.collect()}
    assert got == want
    by_url = {x.url: x for x in out.collect()}
    trio = [by_url[f"doc://{i}"] for i in (0, 2, 3)]
    assert len({x.keep_url for x in trio}) == 1
    assert sum(x.is_kept for x in trio) == 1
    assert sum(x.status == "sem_dup" for x in trio) == 2
    for i in (4, 5):
        assert by_url[f"doc://{i}"].status == "kept"
        assert by_url[f"doc://{i}"].keep_url == f"doc://{i}"
    # metrics: s2 direct + s1 reconciled cover all 8 decisions
    m = spark.read.parquet(met)
    assert bool(m.filter("run_id = 's1'").collect()[0]["reconciled"])
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 8
    assert (m.agg(F.sum("n_kept")).collect()[0][0]
            == sum(1 for x in by_url.values() if x.is_kept))
    # opts hygiene: typo'd key and wrong-mode opts fail fast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown semdedup option keys"):
        run_job(spark, inp, outp, met, mode="semdedup",
                opts={"kk": 3})
    with _pytest.raises(ValueError, match="takes no options"):
        run_job(spark, inp, outp, met, mode="pdf",
                opts=so)


def test_dedup_against_and_run_job_dedupref_mode(spark, tmp_path):
    """late r6: incremental dedup — decide NEW docs against a FROZEN
    reference corpus (the daily-crawl shape). Exact via hash semi-
    join, near via the shared band kernel; new-vs-new duplication
    deliberately not decided (docstring); doc-local resume."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import dedup_against
    from pdfio_spark.pipeline.run import run_job
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide field all day long without rest")
    near = base.replace("rest", "pause")  # band-collides with base
    other = ("completely different content about spark catalyst "
             "optimizer internals and adaptive query execution plans")
    ref = spark.createDataFrame(
        [("ref://0", base), ("ref://1", other), ("ref://1b", other)],
        "url string, text string")
    new = spark.createDataFrame(
        [("doc://a", base),            # byte-identical -> exact_dup
         ("doc://b", near),            # band-collides  -> near_dup
         ("doc://c", "a fresh short doc about entirely new topics "
                     "with no overlap against the kept corpus"),
         ("doc://d", "tiny"),          # <3 words: no shingles, kept
         ("doc://a", base)],           # recrawl -> ONE decision
        "url string, text string")
    out = {r.url: r for r in
           dedup_against(new, ref.select("text")).collect()}
    assert len(out) == 4
    assert out["doc://a"].status == "exact_dup"
    assert out["doc://b"].status == "near_dup"
    assert out["doc://c"].status == "kept" and out["doc://c"].is_kept
    assert out["doc://d"].status == "kept"
    # deterministic re-derivation
    again = {(r.url, r.status) for r in
             dedup_against(new, ref.select("text")).collect()}
    assert again == {(r.url, r.status) for r in out.values()}
    # r6 review: NULL url coalesces to '' and still gets the exact
    # verdict (a NULL key used to drop BOTH join flags -> 'kept')
    withnull = spark.createDataFrame([(None, base)],
                                     "url string, text string")
    nr = dedup_against(withnull, ref.select("text")).collect()
    assert [(r.url, r.status) for r in nr] == [("", "exact_dup")]
    # precomputed index path decides identically (the amortized
    # daily shape: the frozen reference is never re-melted)
    from pdfio_spark.pipeline.job import build_dedup_index
    ixp = str(tmp_path / "dr_ix")
    build_dedup_index(ref.select("text"), ixp)
    viaix = {(r.url, r.status) for r in
             dedup_against(new, index_path=ixp).collect()}
    assert viaix == {(r.url, r.status) for r in out.values()}
    with pytest.raises(ValueError, match="exactly one"):
        dedup_against(new, ref.select("text"), index_path=ixp)
    with pytest.raises(ValueError, match="exactly one"):
        dedup_against(new)

    # production contract: doc-local resume (only appended input
    # re-decided), metrics via the dedup mode's shared counters
    inp, refp, outp, met = (str(tmp_path / p) for p in
                            ("dr_in", "dr_ref", "dr_out", "dr_met"))
    new.write.parquet(inp)
    ref.write.parquet(refp)
    ro = {"reference_path": refp}
    r1 = run_job(spark, inp, outp, met, mode="dedupref", run_id="d1",
                 opts=ro)
    assert r1["by_status"] == {"kept": 2, "exact_dup": 1,
                               "near_dup": 1}
    spark.createDataFrame([("doc://e", other)],
                          "url string, text string") \
        .write.mode("append").parquet(inp)
    r2 = run_job(spark, inp, outp, met, mode="dedupref", resume=True,
                 run_id="d2", opts=ro)
    assert r2["written"] == 1
    assert r2["by_status"] == {"exact_dup": 1}
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 5
    assert m.agg(F.sum("n_kept")).collect()[0][0] == 2
    with pytest.raises(ValueError, match="exactly one"):
        run_job(spark, inp, outp, met, mode="dedupref",
                opts={})
    with pytest.raises(ValueError, match="exactly one"):
        run_job(spark, inp, outp, met, mode="dedupref",
                opts={"reference_path": refp,
                      "index_path": ixp})
    with pytest.raises(ValueError, match="takes no options"):
        run_job(spark, inp, outp, met, mode="pdf",
                opts=ro)
    # index-path mode through the contract too
    outp2, met2 = str(tmp_path / "dr_out2"), str(tmp_path / "dr_met2")
    rix = run_job(spark, inp, outp2, met2, mode="dedupref",
                  run_id="d3", opts={"index_path": ixp})
    assert rix["by_status"] == {"kept": 2, "exact_dup": 2,
                                "near_dup": 1}
    # index integrity (r6 review): an interrupted rebuild leaves the
    # tombstone meta, a foreign kernel or missing meta refuses — an
    # uncommitted index must never decide silently wrong
    spark.createDataFrame([("rebuilding",)], "kernel string") \
        .write.mode("overwrite").parquet(ixp + "/meta")
    with pytest.raises(ValueError, match="committed"):
        dedup_against(new, index_path=ixp)
    import shutil
    shutil.rmtree(ixp + "/meta")
    with pytest.raises(ValueError, match="committed"):
        dedup_against(new, index_path=ixp)
    # a rebuild over the tombstoned index recommits and decides again
    build_dedup_index(ref.select("text"), ixp, mode="overwrite")
    assert ({(r.url, r.status) for r in
             dedup_against(new, index_path=ixp).collect()}
            == {(r.url, r.status) for r in out.values()})


def test_line_dedup_over_semantics(spark):
    """r6: C4-style corpus-level line dedup — a duplicated line keeps
    only its first occurrence by (doc_id, pos), including WITHIN one
    doc; blank lines always pass; unique lines untouched."""
    from pdfio_spark.pipeline.queries import line_dedup_over
    rows = [
        (0, "nav bar\nunique alpha\n\nnav bar\nfooter"),
        (1, "nav bar\nunique beta\n\nfooter"),
        (2, "only original content here"),
    ]
    out = {r.doc_id: r for r in
           line_dedup_over(spark.createDataFrame(
               rows, "doc_id long, text string")).collect()}
    # doc 0: first 'nav bar' + first 'footer' kept, its OWN second
    # 'nav bar' (pos 3) dropped; blank kept
    assert (out[0].n_lines, out[0].n_kept) == (5, 4)
    assert out[0].text_out == "nav bar\nunique alpha\n\nfooter"
    # doc 1: both shared lines lose to doc 0; blank + unique kept
    assert (out[1].n_lines, out[1].n_kept) == (4, 2)
    assert out[1].text_out == "unique beta\n"
    # doc 2: untouched
    assert out[2].text_out == "only original content here"
    # min_count=3: the 'footer' pair (2 occurrences) now survives
    loose = {r.doc_id: r for r in
             line_dedup_over(spark.createDataFrame(
                 rows, "doc_id long, text string"),
                 min_count=3).collect()}
    assert loose[1].text_out == "unique beta\n\nfooter"
    # CRLF corpora: a '\r'-only "blank" line must hit the whitespace
    # exemption (r6 review: F.trim strips only spaces, so '\r' lines
    # entered stats and every paragraph break after the corpus-first
    # one was stripped — the exact failure the rule exists to stop)
    crlf = [(0, "one\r\n\r\ntwo"), (1, "three\r\n\r\nfour")]
    outc = {r.doc_id: r for r in
            line_dedup_over(spark.createDataFrame(
                crlf, "doc_id long, text string")).collect()}
    # split on \n leaves 3 lines each ('x\r', '\r', 'y'); the shared
    # '\r' blank is exempt, so BOTH docs keep all 3
    assert (outc[0].n_kept, outc[1].n_kept) == (3, 3)


def test_substr_dedup_over_semantics(spark):
    """r6: exact-substring dedup (Lee et al. 2022 ExactSubstr) — a
    duplicated k-gram span keeps only its corpus-first occurrence by
    (doc_id, pos); coverage merges overlapping grams; short docs and
    unique text pass untouched. Hand-computed at k=4."""
    from pdfio_spark.pipeline.queries import substr_dedup_over
    rows = [
        (0, "a1 a2 a3 a4 u1 u2"),            # first copy: untouched
        (1, "a1 a2 a3 a4 u1 u2"),            # identical: strips empty
        (2, "x1 x2 a1 a2 a3 a4 y1"),         # partial cross-doc span
        (3, "s1 s2 s3"),                     # shorter than k: no grams
        (4, "r1 r2 r3 r4 m r1 r2 r3 r4"),    # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in substr_dedup_over(df, k=4).collect()}
    assert (out[0].n_dup_starts, out[0].n_kept) == (0, 6)
    assert out[0].text_out == "a1 a2 a3 a4 u1 u2"
    # doc 1: starts {0,1,2} merge into ONE [0,5] interval -> all gone
    assert (out[1].n_dup_starts, out[1].n_kept) == (3, 0)
    assert out[1].text_out == ""
    # doc 2: only its pos-2 gram matches doc 0's pos-0 gram
    assert (out[2].n_dup_starts, out[2].n_kept) == (1, 3)
    assert out[2].text_out == "x1 x2 y1"
    assert out[3].text_out == "s1 s2 s3"
    # doc 4: second copy of the repeated passage stripped, first kept
    assert (out[4].n_dup_starts, out[4].n_kept) == (1, 5)
    assert out[4].text_out == "r1 r2 r3 r4 m"
    # min_count=3: only the 3-occurrence gram 'a1 a2 a3 a4' is dup
    # (doc0 pos0 / doc1 pos0 / doc2 pos2); doc1's 2-occurrence tail
    # grams now survive
    loose = {r.doc_id: r for r in
             substr_dedup_over(df, k=4, min_count=3).collect()}
    assert loose[1].text_out == "u1 u2"
    assert loose[2].text_out == "x1 x2 y1"
    assert loose[4].text_out == "r1 r2 r3 r4 m r1 r2 r3 r4"


def test_dedup_minhash_production_variant(spark):
    """q_dedup_minhash left the registry in r6 (slot freed for the
    oracled q_substr_dedup) but remains the fast xxhash production
    variant — pin shape, pair symmetry, and determinism across two
    separate query conversions (the r3 HOF-lambda flake class)."""
    from pdfio_spark.pipeline.queries import q_dedup_minhash
    sf = "/root/testdata/sf0.001"
    pairs = {(r.doc_a, r.doc_b) for r in q_dedup_minhash(spark, sf).collect()}
    assert pairs  # vacuous-pin guard: the fixture must collide
    assert all(a < b for a, b in pairs)
    again = {(r.doc_a, r.doc_b)
             for r in q_dedup_minhash(spark, sf).collect()}
    assert pairs == again


def _by_url(per_doc, docs):
    """A sub-document twin's reassembled per-doc rows keyed back to url
    through the twins' doc id, xxhash64(url)."""
    from pyspark.sql import functions as F
    ids = docs.select(F.xxhash64("url").alias("doc_id"), "url")
    return {r.url: r for r in per_doc.join(ids, "doc_id").collect()}


def test_stream_line_dedup(spark, tmp_path):
    """r6: streaming twin of --mode linededup — one GroupState per
    line hash, blanks bypass state; a whole-corpus single batch must
    reassemble EXACTLY the batch STAGES op's per-url output, and a
    later run over the same checkpoint must dedup new docs against
    the persisted seen-set exactly once."""
    from pdfio_spark.pipeline.job import linededup_decisions
    from pdfio_spark.pipeline.queries import line_dedup_reassemble
    from pdfio_spark.pipeline.streaming import stream_stage
    rows = [
        ("s://0", "nav bar\nunique alpha\n\nnav bar\nfooter"),
        ("s://1", "nav bar\nunique beta\n\nfooter"),
        ("s://2", "only original content here"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    inp = str(tmp_path / "sld_in")
    chk = str(tmp_path / "sld_chk")
    outp = str(tmp_path / "sld_out")
    df.coalesce(1).write.parquet(inp)  # one file -> one micro-batch
    q = stream_stage(spark, "linededup", inp, chk, outp)
    q.awaitTermination(120)
    got = _by_url(line_dedup_reassemble(spark.read.parquet(outp)), df)
    want = {r.url: r for r in linededup_decisions(df).collect()}
    # single batch + min-okey winner == the batch operator exactly
    assert set(got) == set(want)
    for u in want:
        assert (got[u].n_lines, got[u].n_kept, got[u].text_out) == \
            (want[u].n_lines, want[u].n_kept, want[u].text_out)
    # cross-run state: a later file repeating a seen line loses it
    late = spark.createDataFrame([("s://3", "unique alpha\nfresh line")],
                                 "url string, text string")
    late.coalesce(1).write.mode("append").parquet(inp)
    q2 = stream_stage(spark, "linededup", inp, chk, outp)
    q2.awaitTermination(60)
    out2 = spark.read.parquet(outp)
    assert out2.count() == 12  # 10 first-run lines + 2 new, no replays
    d3 = _by_url(line_dedup_reassemble(out2), late)["s://3"]
    assert (d3.n_lines, d3.n_kept, d3.text_out) == (2, 1, "fresh line")


def test_stream_substr_dedup(spark, tmp_path):
    """r6: streaming twin of --mode substrdedup — one GroupState per
    GRAM_K-gram hash (the SAME substr_gram_melt kernel as batch); a
    whole-corpus single batch fed through substr_dedup_reassemble
    must equal the batch STAGES op's per-url output EXACTLY, and a
    later run over the same checkpoint must strip spans seen in the
    first run."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.job import substrdedup_decisions
    from pdfio_spark.pipeline.queries import (GRAM_K,
                                              substr_dedup_reassemble)
    from pdfio_spark.pipeline.streaming import stream_stage
    K = GRAM_K
    span = " ".join(f"t{i}" for i in range(K))  # one shared gram
    rows = [
        ("s://0", span + " body0 x y z"),
        ("s://1", span + " body1 p q r"),
        ("s://2", " ".join(f"solo{i}" for i in range(K + 2))),
        ("s://3", "tiny doc"),  # < k tokens: no grams, passes untouched
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    inp = str(tmp_path / "ssd_in")
    chk = str(tmp_path / "ssd_chk")
    outp = str(tmp_path / "ssd_out")
    df.coalesce(1).write.parquet(inp)  # one file -> one micro-batch
    q = stream_stage(spark, "substrdedup", inp, chk, outp)
    q.awaitTermination(120)
    sink = spark.read.parquet(outp)
    assert sink.count() == 13  # 5 + 5 + 3 + 0 grams

    def rebuilt(docs, sink):
        return _by_url(substr_dedup_reassemble(
            docs.select(F.xxhash64("url").alias("doc_id"), "text"),
            sink.filter("NOT kept").select("doc_id", "pos")), docs)
    got = rebuilt(df, sink)
    want = {r.url: r for r in substrdedup_decisions(df).collect()}
    assert set(got) == set(want)
    for u in want:
        assert (got[u].n_tokens, got[u].n_dup_starts, got[u].n_kept,
                got[u].text_out) == \
            (want[u].n_tokens, want[u].n_dup_starts, want[u].n_kept,
             want[u].text_out)
    # the shared span is stripped from exactly one of its two docs
    assert {got["s://0"].n_kept, got["s://1"].n_kept} == {4, K + 4}
    assert got["s://3"].text_out == "tiny doc"
    # cross-run state: a later file repeating the span loses it
    late = spark.createDataFrame([("s://4", span + " fresh tokens here now")],
                                 "url string, text string")
    late.coalesce(1).write.mode("append").parquet(inp)
    q2 = stream_stage(spark, "substrdedup", inp, chk, outp)
    q2.awaitTermination(60)
    out2 = spark.read.parquet(outp)
    assert out2.count() == 18  # 13 first-run grams + 5 new, no replay
    d4 = rebuilt(late, out2)["s://4"]
    assert (d4.n_tokens, d4.text_out) == (K + 4, "fresh tokens here now")


def test_dedup_decisions_recrawl_changed_body_deterministic(spark):
    """r6 review x2: a url recrawled with a CHANGED body must resolve
    to the same representative text on EVERY derivation — resume
    re-derives the corpus-global decision set, and dropDuplicates
    kept a partition-order-dependent row, so a crashed run and its
    resume could disagree on doc://a's text_hash. min(text) is the
    deterministic reduction."""
    from pdfio_spark.pipeline.job import dedup_decisions
    t1 = "alpha version of the page body with enough words to matter"
    t2 = "zeta rewrite of the page body entirely different this time"
    other = "unrelated stable document body text for the control row"
    rows = [("doc://a", t1), ("doc://a", t2), ("doc://b", other)]

    def key(out):
        return sorted((x.url, x.text_hash, x.keep_url, x.is_kept,
                       x.status) for x in out.collect())

    df = spark.createDataFrame(rows, "url string, text string")
    rev = spark.createDataFrame(list(reversed(rows)),
                                "url string, text string").repartition(7)
    a, b = key(dedup_decisions(df)), key(dedup_decisions(rev))
    assert a == b
    # and the representative is specifically min(text) = t1: the
    # decision set matches a corpus that only ever carried t1
    solo = spark.createDataFrame([("doc://a", t1), ("doc://b", other)],
                                 "url string, text string")
    assert a == key(dedup_decisions(solo))


def test_ivf_train_under_k_raises(spark):
    """r6 review: a training set smaller than k silently shrank the
    cell count (pq_train already raised on the same condition)."""
    from pdfio_spark.pipeline.queries import ann_ivf_over
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="fewer than k"):
        ann_ivf_over(emb.limit(5), k=16)


def test_ann_operators_reject_non_positive_knobs(spark):
    """nprobe=0 or topk=0 made both IVF operators return zero rows
    silently (slice(arr, 1, 0) is [], IVF-PQ's rank cut `<= 0` keeps
    nothing), as did the PQ and LSH rank cuts; a string from a JSON
    opts template surfaced only as an analysis error at plan time.
    Every ANN operator raises before any Spark job."""
    from pdfio_spark.pipeline import queries as Q
    emb = spark.createDataFrame([(0, [1.0] * 64)],
                                "vec_id long, embedding array<double>")
    for op, knobs in ((Q.ann_ivf_over, ("nprobe", "topk")),
                      (Q.ann_ivfpq_topk_over, ("nprobe", "topk",
                                               "rerank")),
                      (Q.ann_pq_topk_over, ("topk", "rerank")),
                      (Q.ann_lsh_topk_over, ("k",))):
        for knob in knobs:
            for bad in (0, "2"):
                with pytest.raises(ValueError, match=f"^{knob} must"):
                    op(emb, **{knob: bad})


def test_ivf_train_null_cell_keeps_previous_centroid(spark):
    """A cell whose every member is NULL or too short at some position
    sums to NULL there: it keeps its PREVIOUS centroid, and training
    does not raise. k=2 seeds are vectors 0 (e0) and 1 (e63). Pass 1:
    vector 3 joins cell 1; the NULL-bearing 2 and 4-long 4 score NULL
    against every centroid and fall to cell 0 (lowest c_id), whose
    integer sum skips their NULLs: A' = 1000*e0 + 1e6*e30. Pass 2: 0, 1
    and 3 all prefer cell 1, leaving cell 0 = {2, 4}, NULL at dim 6 —
    so cell 0 stays A' while cell 1 moves to the sum of 0, 1 and 3."""
    from pdfio_spark.pipeline.queries import _ivf_train_cells

    def vec(**dims):
        v = [0] * 64
        for d, x in dims.items():
            v[int(d[1:])] = x
        return v

    null_at_5 = vec(d30=10 ** 6)
    null_at_5[5] = None
    t = spark.createDataFrame(
        [(0, vec(d0=1000)), (1, vec(d63=1000)), (2, null_at_5),
         (3, vec(d0=900, d63=1000)), (4, [0, 0, 0, 0])],
        "vec_id long, qe array<long>")
    cents = _ivf_train_cells(t, k=2, iters=2)
    assert cents == [(0, vec(d0=1000, d30=10 ** 6)),
                     (1, vec(d0=1900, d63=2000))]


def test_cli_sig_flags_rejected_outside_sigaudit(spark, tmp_path):
    """r6 review x2: `--mode pdf --crl-pems x.pem` used to drop the
    revocation material silently (sig_material was only built for
    --mode sigaudit); the CLI must hit run_job's option check."""
    from pdfio_spark.pipeline.run import main
    pem = tmp_path / "crl.pem"
    pem.write_bytes(b"not really a crl")
    with pytest.raises(ValueError, match="takes no options"):
        main(["--input", str(tmp_path / "in"),
              "--output", str(tmp_path / "out"),
              "--mode", "pdf", "--crl-pems", str(pem)])


def test_cli_opts_rejected_before_any_read(spark, tmp_path):
    """--opts and --blocked-domains reach run_job's option check
    through main(); the input does not exist, so a call that got past
    validation would fail on the read instead."""
    from pdfio_spark.pipeline.run import main
    base = ["--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"), "--mode", "filter"]
    with pytest.raises(ValueError,
                       match=r"unknown filter option keys \['min_word'\]"):
        main(base + ["--opts", '{"min_word": 1}'])
    doms = tmp_path / "f.txt"
    doms.write_text("example.com\n")
    with pytest.raises(ValueError, match=r"\['blocked_domains'\]"):
        main(base + ["--blocked-domains", str(doms)])
    with pytest.raises(ValueError, match="Expecting property name"):
        main(base + ["--opts", "{min_words: 1}"])
    with pytest.raises(ValueError, match="JSON object"):
        main(base + ["--opts", "[1]"])
    # sigaudit material comes only from the three file flags
    with pytest.raises(ValueError, match="--trust-pems"):
        main(base[:-1] + ["sigaudit", "--opts", '{"trust_pems": []}'])


def test_extract_pdfs_null_html_quarantined(spark):
    """r5 review: a NULL html row failed BOTH split-path filters and
    vanished; it must reach the UDF and come back as an error row."""
    df = spark.createDataFrame(
        [("doc://null", None), ("doc://empty", bytearray(b""))],
        "url string, html binary")
    rows = {r["url"]: r["status"] for r in extract_pdfs(df).collect()}
    assert set(rows) == {"doc://null", "doc://empty"}
    assert rows["doc://null"] == "error"


def _pad_pdf(pdf: bytes, size: int, seed: int) -> bytes:
    """Grow a classic-xref PDF past `size` bytes with an unreferenced
    stream object inserted before its xref table: the offsets of the
    objects before it stay valid and only startxref moves. The payload
    is random so shuffle compression cannot shrink it."""
    import random
    at = pdf.rindex(b"\nxref\n") + 1
    body = random.Random(seed).randbytes(size)
    obj = (b"999 0 obj\n<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream\nendobj\n")
    tail = pdf[at:]
    sx = tail.rindex(b"startxref\n") + len(b"startxref\n")
    eol = tail.index(b"\n", sx)
    tail = tail[:sx] + b"%d" % (at + len(obj)) + tail[eol:]
    return pdf[:at] + obj + tail


def test_extract_pdfs_heavy_tail(spark):
    """The heavy-tail path: docs over skew_threshold ride an AQE-sized
    shuffle by url into the one extraction UDF. Every url comes back
    once with extract_doc's result, a NULL-html row is quarantined (the
    coalesce(nbytes, 0) contract), and tail docs over AQE's 1 MB
    minPartitionSize run in more than one task."""
    from pyspark.sql import functions as F
    from pdfio_spark.fixtures import FIXTURE_CLASSES, build_fixture
    from pdfio_spark.pd.extract import extract_doc
    threshold = 1 << 20
    docs = {f"doc://small/{i}": build_fixture(
        cls, [f"Doc {i}: {cls} in place"])
        for i, cls in enumerate(FIXTURE_CLASSES[:8])}
    for i in range(4):
        docs[f"doc://tail/{i}"] = _pad_pdf(
            build_fixture("flate_simple", [f"Doc {i}: heavy tail"]),
            threshold + (1 << 18), seed=i)
    docs["doc://tail/garbage"] = bytes(threshold + 1)
    rows = [(u, bytearray(b)) for u, b in docs.items()]
    rows.append(("doc://null", None))
    df = spark.createDataFrame(rows, "url string, html binary")

    got = (extract_pdfs(df, skew_threshold=threshold)
           .withColumn("task", F.spark_partition_id()).collect())
    assert sorted(r["url"] for r in got) == sorted([*docs, "doc://null"])
    by_url = {r["url"]: r for r in got}
    for url, pdf in [*docs.items(), ("doc://null", b"")]:
        want = extract_doc(pdf)
        r = by_url[url]
        assert (r["text"], r["n_pages"], r["status"]) == (
            want["text"], want["n_pages"], want["status"]), url
    assert by_url["doc://tail/0"]["status"] == "ok"
    assert by_url["doc://tail/0"]["text"].strip() == "Doc 0: heavy tail"
    assert by_url["doc://null"]["status"] == "error"
    assert by_url["doc://null"]["nbytes"] == 0
    tail_tasks = {r["task"] for r in got if r["url"].startswith("doc://tail")}
    small_tasks = {r["task"] for r in got
                   if r["url"].startswith("doc://small")}
    assert len(tail_tasks) > 1
    assert not tail_tasks & small_tasks


def test_worker_skips_spark_archive_rereads(spark, tmp_path):
    """Importing pdfio_spark.pipeline on a Python worker pins the zip
    directories of Spark's own archives across PySpark's per-task
    importlib.invalidate_caches(); a zip shipped with addPyFile after
    the first task still imports, and is still re-read."""
    import importlib
    import zipfile
    import zipimport

    def probe(batches):
        import pyarrow as pa
        import pdfio_spark.pipeline  # noqa: F401  (what a UDF module does)
        spark_zips = [f for f in sys.path_importer_cache.values()
                      if isinstance(f, zipimport.zipimporter)
                      and os.path.basename(f.archive) == "pyspark.zip"]
        before = [f._files for f in spark_zips]
        importlib.invalidate_caches()
        kept = all(f._files is b for f, b in zip(spark_zips, before))
        pinned = zipimport.zipimporter.invalidate_caches.spark_archives
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "n": len(spark_zips), "kept": kept,
            "pinned": sorted(os.path.basename(p) for p in pinned)}])

    out = spark.range(4, numPartitions=2).mapInArrow(
        probe, "n long, kept boolean, pinned array<string>").collect()
    assert all(r["n"] > 0 and r["kept"] for r in out)
    for r in out:
        assert len(r["pinned"]) == 3 and "pyspark.zip" in r["pinned"]
        assert any(p.startswith("py4j-") for p in r["pinned"])
        assert any(p.startswith("spark-core_") for p in r["pinned"])
    # outside a Python worker the importers keep CPython's behaviour
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "spark_archives")

    mod = f"pdfio_addpy_probe_{os.getpid()}"
    zpath = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 'shipped after the first task'\n")
    spark.sparkContext.addPyFile(str(zpath))

    def use_shipped(batches, mod=mod):
        import pyarrow as pa
        import pdfio_spark.pipeline  # noqa: F401
        value = importlib.import_module(mod).VALUE
        own = [f for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter)
               and f.archive.endswith(f"{mod}.zip")]
        before = [f._files for f in own]
        importlib.invalidate_caches()
        reread = all(f._files is not b for f, b in zip(own, before))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "value": value, "n": len(own), "reread": reread}])

    out = spark.range(4, numPartitions=2).mapInArrow(
        use_shipped, "value string, n long, reread boolean").collect()
    assert all(r["value"] == "shipped after the first task"
               and r["n"] > 0 and r["reread"] for r in out)


def test_sharded_blank_pages_match_plain_path(spark):
    """r5 review: a shard whose page range is all blank returns
    'empty', which reassembly must treat as benign — the plain path
    reports the same doc 'ok'."""
    from pdfio_spark.fixtures import build_fixture
    from pdfio_spark.pipeline.job import extract_pdfs_sharded
    pdf = build_fixture("multipage", [" ", " ", " ", " ",
                                      "text on page five"])
    df = spark.createDataFrame([("doc://blanky", bytearray(pdf))],
                               "url string, html binary")
    plain = extract_pdfs(df).collect()[0]
    shard = extract_pdfs_sharded(df, pages_per_shard=4).collect()[0]
    assert plain["status"] == shard["status"] == "ok"
    assert shard["text"] == plain["text"]


def test_warc_to_html_main_content(spark, tmp_path):
    """Common-Crawl web half end-to-end: WARC response records whose
    payloads are HTML pages -> read_warc -> boilerplate strip ->
    byte-identical main text per url."""
    import gzip
    from pdfio_spark.pipeline.html_extract import (build_html_for_doc,
                                                   expected_main_text,
                                                   extract_html)
    from pdfio_spark.pipeline.sources import read_warc

    def warc_record(url, ts, payload):
        body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + payload)
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url.encode() + b"\r\n"
                b"WARC-Date: " + ts.encode() + b"\r\n"
                b"Content-Length: " + str(len(body)).encode() +
                b"\r\n\r\n" + body + b"\r\n\r\n")

    texts = {i: f"crawl page body {i} " * (i + 2) for i in range(3)}
    recs = [warc_record(f"https://ex.org/p{i}.html",
                        f"2026-02-0{i+1}T00:00:00Z",
                        build_html_for_doc(i, texts[i]))
            for i in range(3)]
    d = tmp_path / "webwarc"
    d.mkdir()
    (d / "w.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs))
    out = extract_html(read_warc(spark, str(d)))
    got = {r["url"]: r for r in out.collect()}
    assert len(got) == 3
    for i in range(3):
        # i=2 is a windows-1252 page (charset rotation): the expected
        # text includes the cp1252 probe, proving the sniffed decode
        want = expected_main_text(i, texts[i])
        r = got[f"https://ex.org/p{i}.html"]
        assert r["status"] == "ok"
        assert r["main_text"] == want
        assert r["title"] == f"Doc {i}"


def test_repetition_filter_linear_on_huge_doc(spark, tmp_path):
    """The top-bigram count must be O(n log n) per row (sorted-run
    aggregate), not the r2 O(n^2) per-distinct-bigram filter: a
    100k-word doc finishes in seconds, and the counts stay exact."""
    import time
    from pdfio_spark.pipeline import queries as Q

    words = " ".join(f"w{i % 50}" for i in range(100_000))
    df = spark.createDataFrame(
        [(1, words, "en", "s", len(words)),
         (2, "aa bb aa bb aa bb cc", "en", "s", 20)],
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = tmp_path / "repsf"
    df.coalesce(1).write.parquet(str(sf / "documents.parquet"))
    t0 = time.perf_counter()
    rows = {r["doc_id"]: r
            for r in Q.q_repetition_filter(spark, str(sf)).collect()}
    assert time.perf_counter() - t0 < 60  # r2 expression: hours
    # doc 1: vocab 50, bigram (w49, w0 is unique per 50-cycle) ->
    # every consecutive bigram repeats 2000x; top = 2000/99999
    assert rows[1]["n_words"] == 100_000
    assert rows[1]["top_bigram_frac"] == round(2000 / 99999, 6)
    # doc 2: 'aa bb' appears 3x of 6 bigrams
    assert rows[2]["top_bigram_frac"] == 0.5
    assert rows[2]["dup_word_frac"] == round(4 / 7, 6)


def test_shingle_oracle_no_cap_boundary(spark, tmp_path):
    """Spark and DuckDB must enumerate the SAME shingle set at any doc
    length — the r2 oracles silently capped at 600 starts. Pin parity
    at 599/600/601 words (pairs of near-identical docs so candidate
    pairs actually form)."""
    duckdb = pytest.importorskip("duckdb")
    from pdfio_spark.pipeline import queries as Q

    rows = []
    for i, n in enumerate((599, 600, 601)):
        base = [f"t{j % 37}x{j % 11}" for j in range(n)]
        rows.append((i * 2, " ".join(base), "en", "s", 0))
        base[5] = "CHANGED"
        rows.append((i * 2 + 1, " ".join(base), "en", "s", 0))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = tmp_path / "bndsf"
    df.coalesce(1).write.parquet(str(sf / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'")
    for name in ("q_dedup_minhash_md5", "q_ngram_jaccard"):
        got = sorted(tuple(r) for r in
                     Q.QUERIES[name](spark, str(sf)).collect())
        want = sorted(con.sql(Q.ORACLES[name]).fetchall())
        if name == "q_ngram_jaccard":
            got = [(a, b, round(j, 6)) for a, b, j in got]
            want = [(a, b, round(j, 6)) for a, b, j in want]
        assert got == want, name


def test_skew_diagnosis_rank_decomposition_matches_window(spark):
    """The r3 scalable exact-rank plan (histogram cumsum + per-key
    row_number + closed-form ntile/percent_rank) must equal the naive
    single-partition window at every awkward N: N < tiles, N == 1,
    N % 8 != 0, heavy ties on n_chars."""
    import duckdb
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline import queries as Q

    for n, tie_every in [(1, 1), (3, 1), (7, 2), (8, 3), (9, 3),
                         (100, 7), (257, 5)]:
        rows = [(i, (i // tie_every) * 10) for i in range(n)]
        con = duckdb.connect()
        con.execute("CREATE TABLE t(doc_id BIGINT, n_chars BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = con.sql(
            "SELECT doc_id, cast(ntile(8) OVER w AS int),"
            " round(percent_rank() OVER w, 6) FROM t"
            " WINDOW w AS (ORDER BY n_chars, doc_id)"
            " ORDER BY doc_id").fetchall()
        df = spark.createDataFrame(
            [(d, c, "x", "s", c) for d, c in rows],
            "doc_id long, n_chars long, lang string, source string, "
            "extra long").select("doc_id", "n_chars")
        import tempfile
        with tempfile.TemporaryDirectory() as td:
            df.write.parquet(f"{td}/documents.parquet")
            got = [(r["doc_id"], r["size_bucket"], r["pct_rank"])
                   for r in Q.q_skew_diagnosis(spark, td)
                   .orderBy("doc_id").collect()]
        assert [tuple(w) for w in want] == got, f"N={n} tie={tie_every}"


def test_minhash_seeds_are_independent_and_deterministic(spark):
    """r3 regression pin: `lambda s, i=i:` in a HOF is a BINARY lambda
    to PySpark — the array index silently replaces the seed, collapsing
    all 16 minhashes to one function (xxhash64) or poisoning the seed
    literal with a session-counter-named lambda variable (md5, which
    made candidate pairs flicker across query conversions). The seeded
    closures must give 16 distinct hashes matching hashlib truth, and
    identical values across two separate query conversions."""
    import hashlib
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline import queries as Q

    sh = ["aa bb cc", "bb cc dd", "cc dd ee"]
    df = spark.createDataFrame([(sh,)], "sh array<string>")

    def md5_sig():
        row = df.select(
            *[F.array_min(F.transform("sh", Q._md5_fn(i))).alias(f"h{i}")
              for i in range(16)]).collect()[0]
        return [row[f"h{i}"] for i in range(16)]

    truth = [min(hashlib.md5((s + f":{i}").encode()).hexdigest()
                 for s in sh) for i in range(16)]
    first = md5_sig()
    assert first == truth
    assert len(set(first)) == 16  # seeds actually differ
    # burn some lambda-variable counter state, then reconvert: values
    # must not depend on how many lambdas the session created before
    df.select(F.transform("sh", lambda x: F.upper(x))).collect()
    assert md5_sig() == first

    xrow = df.select(
        *[F.array_min(F.transform("sh", Q._xxhash_fn(i))).alias(f"h{i}")
          for i in range(16)]).collect()[0]
    xvals = [xrow[f"h{i}"] for i in range(16)]
    assert len(set(xvals)) == 16


def test_run_job_html_mode_resume(spark, tmp_path):
    """--mode html: same launch surface and exactly-once resume contract
    as the PDF job, over the web-page boilerplate-strip pipeline."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.html_extract import (build_html_for_doc,
                                                   expected_main_text,
                                                   extract_html)
    from pdfio_spark.pipeline.run import run_job

    rows = [(f"doc://{i}", build_html_for_doc(i, f"page body {i} " * 9))
            for i in range(40)]
    inp = str(tmp_path / "html_in")
    outp = str(tmp_path / "html_out")
    met = str(tmp_path / "html_met")
    spark.createDataFrame(rows, "url string, html binary") \
        .write.parquet(inp)
    # partial first run: 15 of 40 urls already written
    first = spark.read.parquet(inp).limit(15)
    extract_html(first).write.parquet(outp)
    r = run_job(spark, inp, outp, met, resume=True, mode="html")
    assert r["written"] == 25
    assert r["by_status"] == {"ok": 25}
    out = spark.read.parquet(outp)
    assert out.count() == 40
    assert out.select("url").distinct().count() == 40
    got = {r["url"]: r["main_text"] for r in out.collect()}
    want = expected_main_text(7, "page body 7 " * 9)  # sjis page
    assert got["doc://7"] == want
    m = spark.read.parquet(met)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == 25
    assert m.agg(F.sum("n_ok")).collect()[0][0] == 25


def test_stream_extract_html(spark, tmp_path):
    """Streaming HTML boilerplate strip: exactly-once over the
    checkpoint, byte-identical main text."""
    from pdfio_spark.pipeline.html_extract import (build_html_for_doc,
                                                   expected_main_text)
    from pdfio_spark.pipeline.streaming import stream_stage

    rows = [(f"doc://{i}", build_html_for_doc(i, f"stream body {i} " * 6))
            for i in range(30)]
    inp, chk, outp = (str(tmp_path / d) for d in ("in", "chk", "out"))
    spark.createDataFrame(rows, "url string, html binary") \
        .write.parquet(inp)
    q = stream_stage(spark, "html", inp, chk, outp)
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    assert out.count() == 30
    assert out.filter("status = 'ok'").count() == 30
    got = {r["url"]: r["main_text"] for r in out.collect()}
    want = expected_main_text(3, "stream body 3 " * 6)  # sjis page
    assert got["doc://3"] == want
    # restart with the same checkpoint: nothing reprocessed
    q2 = stream_stage(spark, "html", inp, chk, outp)
    q2.awaitTermination(60)
    assert spark.read.parquet(outp).count() == 30


def test_stream_neardup_restart_no_duplicate_decisions(spark, tmp_path):
    """r5 streaming near-dup stage: band-key GroupState flags a later
    doc whose MinHash bands collide with an earlier doc's, and a
    RESTART from the checkpoint neither re-emits old flag rows nor
    flips old keep decisions — exactly-once across the boundary."""
    from pdfio_spark.pipeline.streaming import (neardup_keep_decisions,
                                                stream_neardup)
    inp = str(tmp_path / "nd_in")
    chk = str(tmp_path / "nd_chk")
    outp = str(tmp_path / "nd_out")
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "structured streaming keeps one state row per lsh band bucket"
    spark.createDataFrame([("u1", t1), ("u2", t2), ("u_short", "hi")],
                          "url string, text string").write.parquet(inp)
    q = stream_neardup(spark, inp, chk, outp)
    q.awaitTermination(120)
    dec1 = {r.url: (r.keep, r.dup_of)
            for r in neardup_keep_decisions(spark, outp).collect()}
    # the <3-word doc takes the stateless self-claim branch — it must
    # still receive a decision (r5 review: it used to vanish)
    assert dec1 == {"u1": (True, None), "u2": (True, None),
                    "u_short": (True, None)}
    # restart with a near-dup of u1 (same text -> same 4 band buckets)
    # and a fresh doc
    t3 = "a wholly different body of words arriving after the restart"
    spark.createDataFrame([("u3", t1), ("u4", t3)],
                          "url string, text string") \
        .write.mode("append").parquet(inp)
    q2 = stream_neardup(spark, inp, chk, outp)
    q2.awaitTermination(120)
    flags = spark.read.parquet(outp)
    # no (url, band) emitted twice across the checkpoint boundary
    assert flags.groupBy("url", "band").count() \
        .filter("count > 1").count() == 0
    dec = {r.url: (r.keep, r.dup_of)
           for r in neardup_keep_decisions(spark, outp).collect()}
    assert dec == {"u1": (True, None), "u2": (True, None),
                   "u_short": (True, None),
                   "u3": (False, "u1"), "u4": (True, None)}


def test_stream_neardup_ttl_readmits(spark, tmp_path):
    """TTL-bounded band state: after expiry a colliding doc freshly
    claims the bucket instead of being flagged (the at-least-once
    tradeoff bounding state on infinite streams — same contract as
    stream_dedup). availableNow + ProcessingTimeTimeout never
    self-terminates; bound each run with stop()."""
    import time
    from pdfio_spark.pipeline.streaming import stream_neardup
    inp = str(tmp_path / "ndttl_in")
    chk = str(tmp_path / "ndttl_chk")
    outp = str(tmp_path / "ndttl_out")
    text = "the very same words every single time for banding purposes"
    spark.createDataFrame([("u1", text)], "url string, text string") \
        .write.parquet(inp)

    def run_until(n_rows, timeout=90):
        q = stream_neardup(spark, inp, chk, outp, state_ttl_hours=1e-7)
        t0 = time.time()
        try:
            while time.time() - t0 < timeout:
                try:
                    if spark.read.parquet(outp).count() >= n_rows:
                        return True
                except Exception:
                    pass
                time.sleep(2)
            return False
        finally:
            q.stop()

    assert run_until(4)  # u1 claims its 4 band buckets
    time.sleep(1)        # let the ~0.4 ms TTL lapse
    spark.createDataFrame([("u2", text)], "url string, text string") \
        .write.mode("append").parquet(inp)
    assert run_until(8)
    flags = spark.read.parquet(outp)
    # state expired between batches -> u2 re-claims all 4 buckets
    # (keeper == itself); it is NOT flagged against u1
    u2 = flags.filter("url = 'u2'").collect()
    assert len(u2) == 4 and all(r.keeper == "u2" for r in u2)


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF (r6: K=16 Lloyd-trained centroids, nprobe=4) must return
    exact-cosine-ranked results within each probe's nearest cells and
    keep reasonable recall vs brute force — the cost/recall trade is
    the operator's contract. (Deterministic data: recall@5 is exactly
    0.52 at sf0.001 / 0.72 at sf0.01, vs 0.40 / 0.56 for the r5
    untrained K=8/nprobe=2 design at the SAME ~25% searched fraction;
    untrained K=16/nprobe=4 sits at 0.48 at sf0.01 — the Lloyd
    training is what pays for the finer cells.)"""
    from pdfio_spark.pipeline import queries as Q
    sf = "/root/testdata/sf0.001"
    bf = {(r.q_id, r.vec_id)
          for r in Q.QUERIES["q_ann_bruteforce"](spark, sf).collect()}
    ivf_rows = Q.QUERIES["q_ann_ivf"](spark, sf).collect()
    ivf = {(r.q_id, r.vec_id) for r in ivf_rows}
    assert ivf  # every probe has a non-empty cell
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.5, f"recall@5 {recall:.2f} collapsed"
    # within-cell ordering is exact: ranks are 1..n without gaps per q
    by_q = {}
    for r in ivf_rows:
        by_q.setdefault(r.q_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_q.values())


def test_ann_pq_recall_rerank_and_determinism(spark):
    """PQ ANN (r6, completes the LSH/IVF/PQ triad): 4x16-dim
    subspaces, 16 integer floor-mean-trained codes each (2 bytes per
    vector), ADC shortlist + exact re-rank. Deterministic data:
    recall@5 vs brute force is exactly 0.76 at sf0.01 with the
    default 1.6% exact-searched shortlist; ADC alone (rerank=1)
    collapses to 0.12 — the re-rank is load-bearing, pinned by the
    control. Training/encode/ADC are all integer-or-literal
    arithmetic, so two runs are row-identical."""
    from pdfio_spark.pipeline import queries as Q
    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    bf = {(r.q_id, r.vec_id)
          for r in Q.QUERIES["q_ann_bruteforce"](spark, sf).collect()}
    rows = Q.ann_pq_topk_over(emb).collect()
    pq = {(r.q_id, r.vec_id) for r in rows}
    recall = len(pq & bf) / len(bf)
    assert recall >= 0.7, f"recall@5 {recall:.2f} below pin"
    # ADC-only control: the shortlist re-rank is what buys the recall
    adc_only = {(r.q_id, r.vec_id)
                for r in Q.ann_pq_topk_over(emb, rerank=1).collect()}
    assert len(adc_only & bf) / len(bf) < recall
    # determinism: bit-stable training + encode
    again = Q.ann_pq_topk_over(emb).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # ranks are 1..topk per query, exact-cosine ordered
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append((r.rk, r.cos_sim))
    for v in by_q.values():
        v.sort()
        assert [x[0] for x in v] == list(range(1, len(v) + 1))
        sims = [x[1] for x in v]
        assert sims == sorted(sims, reverse=True)
    # fail-fast validation (r6 review): non-divisor subspaces and a
    # training set smaller than the codebook must raise, not silently
    # drop dims / shrink codes
    with pytest.raises(ValueError):
        Q.ann_pq_topk_over(emb, subspaces=5)
    with pytest.raises(ValueError):
        Q.pq_train(emb.limit(4).selectExpr(
            "vec_id", "transform(embedding, "
            "x -> cast(round(x * 1000000) as long)) as qe"))


def test_ann_ivfpq_recall_and_determinism(spark):
    """IVF-PQ (r6, the composition production systems run at 10^12 —
    FAISS IndexIVFPQ shape): IVF cells prune candidates to
    nprobe/cells, PQ codes of the CELL RESIDUAL score them by ADC,
    exact cosine re-ranks the shortlist. Deterministic data: recall@5
    vs brute force is exactly 0.68 at sf0.01 with nprobe=4/cells=16 —
    25% of codes ADC-scanned and 1.6% exactly searched (flat PQ: 0.76
    scanning 100% of codes; flat IVF: 0.72 searching 25% exactly —
    the composition trades a little recall for both axes at once)."""
    from pdfio_spark.pipeline import queries as Q
    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    bf = {(r.q_id, r.vec_id)
          for r in Q.QUERIES["q_ann_bruteforce"](spark, sf).collect()}
    rows = Q.ann_ivfpq_topk_over(emb).collect()
    got = {(r.q_id, r.vec_id) for r in rows}
    recall = len(got & bf) / len(bf)
    assert recall >= 0.6, f"recall@5 {recall:.2f} below pin"
    # probing every cell ADC-scans everything: recall must not drop
    # below the pruned default (sanity of the nprobe axis)
    all_cells = {(r.q_id, r.vec_id) for r in
                 Q.ann_ivfpq_topk_over(emb, nprobe=16).collect()}
    assert len(all_cells & bf) / len(bf) >= recall
    # bit-determinism: both trainings + residual encode are integer
    again = Q.ann_ivfpq_topk_over(emb).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_operators_survive_a_short_embedding(spark):
    """One embedding shorter than 64 dims used to fail the whole PQ
    training job under ANSI element_at (INVALID_ARRAY_INDEX): a
    (subspace, code) whose subvector sum reads NULL now keeps its
    previous code, and both PQ operators return rows."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline import queries as Q
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cut = emb.withColumn("embedding", F.when(
        F.col("vec_id") == 7, F.slice("embedding", 1, 10))
        .otherwise(F.col("embedding")))
    assert cut.filter("size(embedding) = 10").count() == 1
    for op in (Q.ann_pq_topk_over, Q.ann_ivfpq_topk_over):
        rows = op(cut).collect()
        assert rows
        assert {r.q_id for r in rows} == {
            r.vec_id for r in emb.filter("vec_id % 100 = 0").collect()}
    # two members NULL at different positions of subspace 0 both score
    # its NULL code, whose sums then read no NULL: that code is skipped
    # too. Pass 1 moves code 1 of subspaces 1-3 to floor(60 / 3); pass
    # 2 ties vec 1 between 0 and 20 (lowest code wins)
    qe = [[10 * i] * 64 for i in range(4)]
    qe[2][3] = qe[3][5] = None
    t = spark.createDataFrame(list(enumerate(qe)),
                              "vec_id long, qe array<long>")
    book = Q.pq_train(t, subspaces=4, codes=2, iters=2)
    assert book == [[[0] * 16, [10] * 16]] + [[[5] * 16, [25] * 16]] * 3


def test_jaccard_candidate_cap_bounds_clique(spark):
    """VERDICT r3 caveat #1: a near-dup clique (k mutual candidates)
    must NOT replicate each doc's shingle array k times through the
    verify join. 60 identical docs form a full LSH clique (1770 pairs);
    the per-doc_a cap bounds the verify join to <= JACCARD_CAND_CAP
    pairs per doc, deterministically (lowest doc_b kept)."""
    from pdfio_spark.pipeline import queries as Q
    text = ("the quick brown fox jumps over the lazy dog again and "
            "again until the corpus is thoroughly duplicated")
    docs = spark.createDataFrame(
        [(i, text) for i in range(60)], "doc_id long, text string")
    rows = Q.ngram_jaccard_over(docs).collect()
    cap = Q.JACCARD_CAND_CAP
    per_a = {}
    for r in rows:
        per_a[r.doc_a] = per_a.get(r.doc_a, 0) + 1
        assert r.jaccard == 1.0  # identical docs
        assert r.doc_b <= r.doc_a + cap  # lowest-doc_b determinism
    assert max(per_a.values()) <= cap
    # expected total: sum over doc_a of min(59 - doc_a, cap)
    assert len(rows) == sum(min(59 - a, cap) for a in range(60))


def test_connected_components_log_rounds_on_path_graph(spark):
    """VERDICT r3 item #5: alternating large-star/small-star must
    converge in O(log n) rounds on a high-diameter graph. A 256-node
    path (diameter 255) would need ~255 rounds of min-label
    propagation (the pre-r4 loop capped at 15 and would return WRONG
    labels); the star algorithm does it in ~log2(n)+1."""
    from pdfio_spark.pipeline.queries import connected_components
    pairs = spark.createDataFrame([(i, i + 1) for i in range(255)],
                                  "s long, t long")
    labels, rounds = connected_components(pairs)
    rows = labels.collect()
    assert len(rows) == 256
    assert all(r.component == 0 for r in rows)
    assert rounds <= 12, f"path graph took {rounds} rounds (not O(log n))"
    # multiple components keep distinct min labels
    pairs2 = spark.createDataFrame(
        [(i, i + 1) for i in range(100)]
        + [(i, i + 1) for i in range(200, 300)], "s long, t long")
    l2, r2 = connected_components(pairs2)
    assert {row.component for row in l2.collect()} == {0, 200}
    assert r2 <= 12


def _union_find_labels(pairs):
    """Reference components: {node: min node of its component} over the
    endpoints of the non-self-loop pairs (connected_components drops
    self-loops before it collects nodes)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_match_union_find(spark):
    """Labels equal a pure-Python union-find on seeded random graphs
    and on the edge cases; `rounds` counts the star rounds actually
    run, so an input that is already a star forest (every child has
    one parent, no parent is a child) runs none."""
    import random
    from pdfio_spark.pipeline.queries import connected_components

    def run(pairs):
        df = spark.createDataFrame(pairs, "s long, t long")
        labels, rounds = connected_components(df)
        got = {r.node: r.component for r in labels.collect()}
        assert got == _union_find_labels(pairs), pairs
        return rounds

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = rng.randint(20, 80)
        run([(rng.randrange(n), rng.randrange(n))
             for _ in range(rng.randint(10, 2 * n))])
    assert run([]) == 0                                   # empty pairs
    assert run([(4, 4), (9, 9)]) == 0                     # self-loops
    run([(1, 2), (2, 1), (2, 3), (1, 2), (3, 3)])          # duplicates
    run([(10, 3), (3, 7), (7, 1), (1, 8),                  # two paths,
         (20, 25), (25, 21), (21, 30)])                    # ids unsorted
    run([(1, 5), (5, 2)])           # one child, two parents: not a star
    # one large star centered at its minimum: already a star forest
    assert run([(0, i) for i in range(1, 60)]) == 0
    assert run([(i, 0) for i in range(1, 60)]
               + [(100, 101), (102, 100)]) == 0
    # the same star centered at its maximum needs rounds
    assert run([(60, i) for i in range(60)]) >= 1
    # an exhausted round budget warns and reports the rounds it ran
    path = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                 "s long, t long")
    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        assert connected_components(path, max_rounds=1)[1] == 1


def test_multitable_lsh_recall_and_bucket_bound(spark):
    """r6 query-directed multiprobe LSH: (a) recall@3 vs exact
    all-pairs top-3 must clear an absolute floor (measured 0.259 at
    sf0.01 with directed probing — coarse singles(8)+pairs(top-4),
    fine singles(12)+pairs(top-8) over independent md5 planes — vs
    0.042 for the r4 no-probe design on these near-random 64-dim
    vectors, the hardest case for LSH; the r5 correlated-plane ball
    hit the same 0.258 recall only by burning 33% more candidate
    pairs) and stay >= the single-table design's (candidates are a
    superset: table 0 and its probes are unchanged); (b) the fine
    table (12 bits) must bound the worst bucket at or below the coarse
    table's worst bucket."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline import queries as Q
    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    def topk_set(df):
        return {(r.vec_id, r.nn_id) for r in df.collect()}

    multi = topk_set(Q.ann_lsh_topk_over(emb, tables=2))
    single = topk_set(Q.ann_lsh_topk_over(emb, tables=1))
    # exact ground truth: all-pairs cosine top-3
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("c.embedding"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    nrm = lambda c: F.sqrt(F.aggregate(
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    sim = F.round(dot / (nrm(F.col("a.embedding"))
                         * nrm(F.col("c.embedding"))), 6)
    from pyspark.sql.window import Window
    allp = (emb.alias("a").crossJoin(emb.alias("c"))
            .filter(F.col("a.vec_id") != F.col("c.vec_id"))
            .select(F.col("a.vec_id").alias("vec_id"),
                    F.col("c.vec_id").alias("nn_id"),
                    sim.alias("cos_sim")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"),
                                             F.asc("nn_id"))
    truth = topk_set(allp.withColumn("rk", F.row_number().over(w))
                     .filter("rk <= 3"))
    r_multi = len(multi & truth) / len(truth)
    r_single = len(single & truth) / len(truth)
    assert r_multi >= 0.258, f"multiprobe recall@3 collapsed: {r_multi}"
    assert r_multi >= r_single, (r_multi, r_single)
    # multiprobe is the recall engine: without it the same two tables
    # sit at 0.042 (r4) — pin the gap so a probe regression is loud
    noprobe = topk_set(Q.ann_lsh_topk_over(emb, tables=2,
                                           coarse_directed=(0, 0),
                                           fine_directed=(0, 0)))
    assert r_multi >= 3 * len(noprobe & truth) / len(truth)
    # bucket-size bound: fine table's worst bucket <= coarse's worst
    stats = Q.QUERIES["q_lsh_buckets"](spark, sf)
    agg = stats.agg(F.max("n_vectors").alias("mc"),
                    F.max("n_vectors_fine").alias("mf")).collect()[0]
    assert agg.mf <= agg.mc, (agg.mf, agg.mc)


def test_ann_ivf_sampled_training(spark):
    """r6: Lloyd training over a deterministic SAMPLE (train_frac — the
    10^12-scale path) still serves every probe with full top-k; the
    sample only moves centroid QUALITY, never coverage (assignment
    and search scan the full base)."""
    from pdfio_spark.pipeline.queries import ann_ivf_over
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ann_ivf_over(emb, train_frac=0.5).collect()
    full = ann_ivf_over(emb).collect()
    # same probes served, same schema, exact per-query top-5 ranks
    assert {r.q_id for r in out} == {r.q_id for r in full}
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_q.values())
    # deterministic: the sampled slice is a pure function of vec_id
    again = ann_ivf_over(emb, train_frac=0.5).collect()
    assert [(r.q_id, r.vec_id) for r in again] == \
        [(r.q_id, r.vec_id) for r in out]


def test_ann_lsh_build_py4j_budget(spark, monkeypatch):
    """Building the multiprobe LSH query (its eager checkpoint
    included) stays under 1770 py4j round trips at sf0.01. The coded
    base built Column by Column (20 planes x 64 literals, 20 fold
    trees, 58 bucket expressions) took ~17.5k, ~1.3 s of a warm call;
    as generated SQL text, one F.expr per column, it takes 1.2-1.5k,
    of which 130-450 are deletes of collected proxies."""
    import gc
    import py4j.clientserver as cs
    from pdfio_spark.pipeline import queries as Q
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    gc.collect()   # earlier tests' dead proxies send their deletes now
    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    Q.ann_lsh_topk_over(emb)
    monkeypatch.undo()
    assert calls[0] < 1770, f"{calls[0]} py4j round trips"


def test_default_hyperplanes_hold_occupancy_bound(spark):
    """r6: the registry's DEFAULT planes must be independent — bucket
    occupancy within 85% of the Poisson expectation B*(1-(1-1/B)^n)
    for a uniform random code. The r5 correlated counter-hash planes
    sat at 145/313 distinct (coarse/fine) on this data vs ~219/~470
    expected — the measured 349.6M-pair scale-killer at wide widths
    (BENCH/BASELINE.md 'bits-scale-with-n'); the md5 planes measure
    202/460. Guards against anyone 'simplifying' the generator back
    to a correlated sequence."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline import queries as Q
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    got = (emb.select(
        Q._bucket_expr("embedding").alias("bc"),
        Q._bucket_expr("embedding", Q._HP_FINE).alias("bf"))
        .agg(F.countDistinct("bc").alias("dc"),
             F.countDistinct("bf").alias("df")).collect()[0])
    for distinct, bits in ((got.dc, 8), (got.df, Q.ANN_FINE_BITS)):
        B = 1 << bits
        expected = B * (1 - (1 - 1 / B) ** n)
        assert distinct >= 0.85 * expected, (
            f"{bits}-bit planes correlate: {distinct} distinct buckets "
            f"vs {expected:.0f} expected for an independent code")


def test_dedup_keep_list_end_to_end(spark):
    """Full dedup operator: exact groups collapse FIRST, near-dup
    components merge across exact groups, one is_kept row per cluster.
    Corpus: 3 exact copies of text A (docs 0,1,2), a near-dup of A
    (doc 3: one word changed), an unrelated doc 4, and an exact pair
    (docs 5,6)."""
    from pdfio_spark.pipeline.queries import dedup_keep_list
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide field all day long without rest")
    # one word at the tail changed: verified to band-collide with base
    # under the deterministic md5 minhash (field->meadow mid-text does
    # NOT — only ~0.95 of variants collide at this similarity)
    near = base.replace("rest", "pause")
    other = ("completely different content about spark catalyst "
             "optimizer internals and adaptive query execution plans")
    pairtxt = "an exact duplicate pair lives here with its twin today"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base), (3, near), (4, other),
         (5, pairtxt), (6, pairtxt)], "doc_id long, text string")
    rows = {r.doc_id: r for r in dedup_keep_list(docs).collect()}
    assert len(rows) == 7
    # docs 0-3 form one cluster (exact trio + near-dup) kept by doc 0
    assert all(rows[i].keep_id == 0 for i in (0, 1, 2, 3))
    assert rows[0].is_kept and not any(rows[i].is_kept for i in (1, 2, 3))
    # unrelated doc keeps itself
    assert rows[4].keep_id == 4 and rows[4].is_kept
    # exact pair kept by 5
    assert rows[5].keep_id == 5 and rows[6].keep_id == 5
    assert rows[5].is_kept and not rows[6].is_kept


def test_dedup_keep_list_collapses_cliques(spark):
    """The 1M-soak lesson as a unit test: 40 identical docs would form
    a 780-pair LSH clique if minhash ran on the raw corpus; the exact
    stage must reduce the near-dup input to ONE representative (zero
    candidate pairs), and all 40 rows still map to one keep_id."""
    from pdfio_spark.pipeline import queries as Q
    docs = spark.createDataFrame(
        [(i, "forty identical documents stress the clique path today "
              "with enough words to clear the shingle minimum")
         for i in range(40)], "doc_id long, text string")
    rows = Q.dedup_keep_list(docs).collect()
    assert len(rows) == 40
    assert all(r.keep_id == 0 for r in rows)
    assert sum(r.is_kept for r in rows) == 1
    # and the minhash stage really saw only one representative
    norm = "forty identical documents"
    reps_pairs = Q._minhash_md5_candidates(
        spark.createDataFrame([(0, norm)], "doc_id long, text string"))
    assert reps_pairs.count() == 0


# Every mode's metrics table as written: partition_id, the stage's
# counters, then the run stamp. Readers of the table (these tests,
# tools/soak.py n_copies_out) depend on the names, order, types and
# nullability; the NOT NULL fields are partition_id, the stage's
# count(*) and the stamp.
_METRICS_COUNTERS = {
    "pdf": "n_docs:bigint,sum_bytes:bigint,sum_pages:bigint,"
           "max_dur_us:bigint,n_ok:bigint",
    "html": "n_docs:bigint,sum_blocks:bigint,sum_chars:bigint,n_ok:bigint",
    "wet": "n_docs:bigint,sum_chars:bigint,sum_tokens:bigint,n_ok:bigint",
    "wat": "n_docs:bigint,sum_keys:bigint,sum_bytes:bigint,n_ok:bigint",
    "dedup": "n_docs:bigint,n_kept:bigint,n_exact_dup:bigint,"
             "n_near_dup:bigint",
    "sigaudit": "n_rows:bigint,n_sigs:bigint,n_passed:bigint,"
                "n_revoked:bigint,n_untrusted:bigint,n_nosig:bigint,"
                "n_error:bigint",
    "filter": "n_docs:bigint,n_kept:bigint,n_too_few_words:bigint,"
              "n_too_many_words:bigint,n_punct_ratio:bigint,"
              "n_low_stopword_ratio:bigint,n_lang:bigint,"
              "n_dup_words:bigint,n_repetition:bigint",
    "pii": "n_docs:bigint,n_scrubbed:bigint,n_pii:bigint,n_email:bigint,"
           "n_ssn:bigint,n_ipv4:bigint,n_phone:bigint",
    "urlfilter": "n_docs:bigint,n_kept:bigint,n_bad_scheme:bigint,"
                 "n_no_host:bigint,n_url_too_long:bigint,"
                 "n_blocked_domain:bigint,n_blocked_token:bigint",
    "decontam": "n_docs:bigint,n_kept:bigint,n_contaminated:bigint,"
                "n_contam_grams:bigint,n_contam_spans:bigint",
    "domaincap": "n_docs:bigint,n_kept:bigint,n_capped:bigint",
    "linededup": "n_docs:bigint,n_deduped:bigint,n_lines:bigint,"
                 "n_kept:bigint",
    "substrdedup": "n_docs:bigint,n_deduped:bigint,n_tokens:bigint,"
                   "n_dup_starts:bigint,n_kept:bigint",
    "semdedup": "n_docs:bigint,n_kept:bigint,n_sem_dup:bigint",
    "mix": "n_docs:bigint,n_dropped:bigint,n_kept:bigint,"
           "n_upsampled:bigint,n_copies_out:bigint",
    "dedupref": "n_docs:bigint,n_kept:bigint,n_exact_dup:bigint,"
                "n_near_dup:bigint",
    "urldedup": "n_docs:bigint,n_kept:bigint,n_url_dup:bigint",
}


@pytest.fixture(scope="module")
def every_mode_input(spark, tmp_path_factory):
    """One small table carrying the columns of every mode's scan."""
    from pdfio_spark.fixtures import build_fixture
    tmp = tmp_path_factory.mktemp("every_mode")
    texts = ["the cat sat on the mat and the dog ran away home",
             "email me at a@b.com or call 555-123-4567 today please",
             "the cat sat on the mat and the dog ran away home",
             "completely different words appear here in this doc"]
    rows = [(f"https://www.s{i % 2}.com/p{i}",
             build_fixture("flate_simple", [t]), t, {"k": "v"}, 100 + i,
             [float(i == j) for j in range(4)])
            for i, t in enumerate(texts)]
    inp, ref = str(tmp / "in"), str(tmp / "ref")
    spark.createDataFrame(
        rows, "url string, html binary, text string, "
        "metadata map<string,string>, nbytes long, "
        "embedding array<double>").write.parquet(inp)
    spark.createDataFrame([(texts[0],)], "text string").write.parquet(ref)
    return tmp, inp, ref, texts


@pytest.mark.parametrize("mode", sorted(_METRICS_COUNTERS))
def test_metrics_table_schema(spark, every_mode_input, mode):
    """The metrics schema each mode writes, read from the part file's
    Spark row metadata (a parquet read back makes every field
    nullable, so only the footer keeps the written nullability)."""
    import glob
    import json
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType
    from pdfio_spark.pipeline.run import STAGES, run_job
    assert set(_METRICS_COUNTERS) == set(STAGES)
    tmp, inp, ref, texts = every_mode_input
    opts = {
        "decontam": {"opts": {"benchmark_texts":
                     spark.createDataFrame([(texts[1],)], "text string"),
                     "k": 3}},
        "dedupref": {"opts": {"reference_path": ref}},
        "semdedup": {"opts": {"k": 2, "iters": 1, "tau": 0.99}},
    }.get(mode, {})
    met = str(tmp / f"{mode}_met")
    run_job(spark, inp, str(tmp / f"{mode}_out"), met, mode=mode,
            run_id="m", **opts)
    part = sorted(glob.glob(os.path.join(met, "*.parquet")))[0]
    st = StructType.fromJson(json.loads(pq.read_schema(part).metadata[
        b"org.apache.spark.sql.parquet.row.metadata"]))
    counters = _METRICS_COUNTERS[mode]
    assert st.simpleString() == (
        f"struct<partition_id:int,{counters},"
        "run_id:string,reconciled:boolean,ts:timestamp>")
    names = ["partition_id", *(c.split(":")[0] for c in
                               counters.split(",")),
             "run_id", "reconciled", "ts"]
    assert [f.name for f in st.fields] == names
    assert spark.read.parquet(met).columns == names
    not_null = {"partition_id", names[1], "run_id", "reconciled", "ts"}
    assert {f.name: f.nullable for f in st.fields} == {
        n: n not in not_null for n in names}
