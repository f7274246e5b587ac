"""Batch job entrypoint — the spark-submit surface.

    spark-submit --py-files pdfio_spark.zip pdfio_spark/pipeline/run.py \
        --input  <parquet/iceberg of (url, warc_ts, html, text, lang)> \
        --output <results dir/table> --metrics <metrics dir/table> \
        [--resume] [--cpus N] [--mode MODE] [--<mode>-opts JSON]

Every --mode is one row of STAGES below, in one place: its operator,
its metrics aggregate, the input columns its scan prunes to (also the
source schema of its streaming twin in streaming.py), whether its
decisions are corpus-global, its options kwarg and a one-line
description (`--help` lists them). --mode pdf (default) runs the full
PDF parse stack. All modes share the resume/metrics/run_id-reconcile
contract (corpus-global resume re-derives the decisions over the full
input and appends only unwritten rows — see run_job).

Input is the Common-Crawl-style table of the north rule (the binary
`html` column carries PDF bytes). The job:
  1. scans with column pruning (url, html only),
  2. resumes by anti-joining urls already present in the output,
  3. extracts via the split-path skew topology (job.extract_pdfs),
  4. appends results + per-partition lineage metrics.

Idempotent: re-running with --resume after a crash processes only the
missing urls (exactly-once overall via append + anti-join; on Iceberg
the append itself is atomic per snapshot).
"""
from __future__ import annotations

import argparse
import sys
import time

if __name__ == "__main__" and __package__ in (None, ""):
    # spark-submit runs this file as a bare script: re-enter through
    # the package (provided by --py-files or the repo checkout) so
    # relative imports resolve
    import os
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))))
    from pdfio_spark.pipeline.run import main as _pkg_main
    sys.exit(_pkg_main())

import inspect
from typing import Callable, NamedTuple

from .html_extract import extract_html, html_metrics
from .job import (annotate_wat, annotate_wet, decontam_decisions,
                  decontam_metrics, dedup_against, dedup_decisions,
                  dedup_metrics, domain_cap_decisions, domaincap_metrics,
                  extract_pdfs, extraction_metrics, filter_metrics,
                  linededup_decisions, linededup_metrics, mix_decisions,
                  mix_metrics, pii_metrics, pii_scrub_over,
                  quality_decisions, resume_filter, semdedup_decisions,
                  semdedup_metrics, sigaudit_metrics, substrdedup_decisions,
                  substrdedup_metrics, url_filter_decisions,
                  urldedup_decisions, urldedup_metrics, urlfilter_metrics,
                  validate_signatures_over, wat_metrics, wet_metrics)


class Stage(NamedTuple):
    """One run.py mode. `op(corpus, *args, **kw)` -> output rows, where
    (args, kw) is `prep(spark, opts)` when set (side inputs read before
    the job starts) and ((), opts) otherwise."""
    op: Callable
    metrics: Callable
    # "name type" fields the scan prunes to (a function of the options
    # where they decide the columns); also the streaming twin's schema
    cols: tuple | Callable = ("url string", "html binary")
    # decisions depend on EVERY other doc: resume must re-derive over
    # the full input, then append only unwritten rows
    corpus_global: bool = False
    opts_kw: str | None = None
    # accepted option keys; None = op's keyword parameters
    keys: tuple | None = None
    prep: Callable | None = None
    doc: str = ""

    def fields(self, opts=None) -> tuple:
        return self.cols(opts or {}) if callable(self.cols) else self.cols

    def option_keys(self) -> tuple:
        if self.keys is not None:
            return self.keys
        return tuple(inspect.signature(self.op).parameters)[1:]


_TEXT = ("url string", "text string")


def _domaincap_cols(o):
    # the token-budget variant weighs docs by their text
    if o.get("max_tokens_per_domain") is not None:
        return _TEXT
    return ("url string",)


def _mix_cols(o):
    # a non-domain mix key (e.g. lang) must reach the scan
    k = o.get("key_col", "domain")
    return ("url string",) + (() if k == "domain" else (f"{k} string",))


def _decontam_prep(spark, o):
    o = dict(o)
    path = o.pop("benchmark_path", None)
    bench = o.pop("benchmark_texts", None)
    if (path is None) == (bench is None):
        raise ValueError("decontam needs exactly one of "
                         "benchmark_path / benchmark_texts")
    if path is not None:
        bench = spark.read.parquet(path).select("text")
    return (bench,), o


def _dedupref_prep(spark, o):
    if ("reference_path" in o) == ("index_path" in o):
        raise ValueError("mode='dedupref' needs dedupref_opts "
                         "with exactly one of reference_path "
                         "(frozen kept corpus, hashed inline) / "
                         "index_path (build_dedup_index output — "
                         "the amortized daily path)")
    ref = (spark.read.parquet(o["reference_path"]).select("text")
           if "reference_path" in o else None)
    return (ref,), {"index_path": o.get("index_path")}


STAGES: dict[str, Stage] = {
    "pdf": Stage(
        extract_pdfs, extraction_metrics,
        doc="full PDF parse stack over (url, html = PDF bytes), "
            "split-path skew topology"),
    "html": Stage(
        extract_html, html_metrics,
        doc="web-page boilerplate strip over the same table shape"),
    "wet": Stage(
        annotate_wet, wet_metrics, _TEXT,
        doc="pre-extracted text (sources.read_wet) annotated with the "
            "oracle-verified analytics set"),
    "wat": Stage(
        annotate_wat, wat_metrics,
        ("url string", "metadata map<string,string>", "nbytes long"),
        doc="flattened crawl metadata (sources.read_wat) -> typed "
            "content type / server / status / link count / title"),
    "dedup": Stage(
        dedup_decisions, dedup_metrics, _TEXT, True,
        doc="composed exact + near-dup keep decisions over (url, text)"),
    # material from --trust-pems/--crl-pems/--ocsp-ders (read once,
    # shipped in task closures) or each executor's $PDFIO_SPARK_* env;
    # a typo'd 'crl_blobs' would otherwise silently audit WITHOUT
    # revocation checking, so the keys are pinned (export_certs is not
    # a mode key)
    "sigaudit": Stage(
        validate_signatures_over, sigaudit_metrics,
        opts_kw="sig_material",
        keys=("trust_pems", "crl_blobs", "ocsp_ders"),
        doc="corpus-scale signature audit over (url, html), trust and "
            "CRL/OCSP material from the --trust-pems/--crl-pems/"
            "--ocsp-ders files"),
    # defaults are tuned for real web text — a real corpus run is
    # EXPECTED to tune them (100%-drop on synthetic short-text corpora
    # is faithful, not a bug)
    "filter": Stage(
        quality_decisions, filter_metrics, _TEXT, opts_kw="filter_opts",
        doc="Gopher/C4-style quality gate: keep decisions with "
            "per-rule reason tags, map-only"),
    "pii": Stage(
        pii_scrub_over, pii_metrics, _TEXT,
        doc="PII redaction plus per-category counters, map-only"),
    "urlfilter": Stage(
        url_filter_decisions, urlfilter_metrics, ("url string",),
        opts_kw="url_opts",
        doc="URL gate before any content is read (--blocked-domains "
            "merges a list read from a file into url_opts)"),
    "decontam": Stage(
        decontam_decisions, decontam_metrics, _TEXT, opts_kw="decontam_opts",
        keys=("benchmark_path", "benchmark_texts", "k", "min_hits"),
        prep=_decontam_prep,
        doc="benchmark decontamination: drop docs sharing a k-token "
            "span with an evaluation set"),
    # a domain's keep set depends on every other doc in it
    "domaincap": Stage(
        domain_cap_decisions, domaincap_metrics, _domaincap_cols, True,
        opts_kw="domaincap_opts",
        doc="per-registrable-domain document or token cap"),
    "linededup": Stage(
        linededup_decisions, linededup_metrics, _TEXT, True,
        doc="C4 corpus-level line dedup"),
    "substrdedup": Stage(
        substrdedup_decisions, substrdedup_metrics, _TEXT, True,
        doc="exact-substring dedup"),
    "semdedup": Stage(
        semdedup_decisions, semdedup_metrics,
        ("url string", "embedding array<float>"), True,
        opts_kw="semdedup_opts",
        doc="SemDeDup embedding-cluster semantic dedup over "
            "(url, embedding)"),
    "mix": Stage(
        mix_decisions, mix_metrics, _mix_cols, opts_kw="mix_opts",
        doc="data-mixture sampling: per-key rates (registrable domain "
            "or key_col), deterministic down/upsampling, map-only"),
    "dedupref": Stage(
        dedup_against, dedup_metrics, _TEXT, opts_kw="dedupref_opts",
        keys=("reference_path", "index_path"), prep=_dedupref_prep,
        doc="decide a NEW crawl against a FROZEN kept corpus, "
            "doc-local given the reference"),
    "urldedup": Stage(
        urldedup_decisions, urldedup_metrics, ("url string",), True,
        doc="collapse recrawls of the same resource by normalized url"),
}


def make_cc_table(docs, classes=None):
    """documents(doc_id, text, lang, ...) -> the input_hint schema
    (url string, warc_ts timestamp, html binary, text string,
    lang string) with synthetic PDF bytes in `html`."""
    from pyspark.sql import functions as F
    from .job import gen_pdf_corpus
    corpus = gen_pdf_corpus(docs, classes=classes)
    meta = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.col("text"), F.col("lang"))
    return (corpus.join(meta, "url")
            .select("url", "warc_ts", "html", "text", "lang"))


def run_job(spark, input_path: str, output_path: str,
            metrics_path: str | None = None, resume: bool = False,
            mode: str = "pdf", run_id: str | None = None,
            sig_material: dict | None = None,
            filter_opts: dict | None = None,
            url_opts: dict | None = None,
            decontam_opts: dict | None = None,
            domaincap_opts: dict | None = None,
            semdedup_opts: dict | None = None,
            mix_opts: dict | None = None,
            dedupref_opts: dict | None = None) -> dict:
    """mode='pdf' (default): full PDF parse stack. mode='html': the
    web-page half — DOM block-scoring boilerplate strip over the same
    (url, html binary) table shape, same resume/metrics contract.

    Every run stamps its output AND metrics rows with a `run_id`; on
    --resume, any run_id present in the output but absent from the
    metrics table (= a crash landed between the two appends) gets its
    metrics RECOMPUTED from the committed output rows and appended
    with reconciled=true — metrics completeness without re-extraction
    (ADVICE r4; partition ids in reconciled rows reflect the resume
    read, the lineage counts are exact)."""
    import uuid
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    # validate the mode and its options BEFORE any column select or
    # read: an unknown mode used to surface as a misleading
    # cannot-resolve-column AnalysisException on WET-shaped tables
    stage = STAGES.get(mode)
    if stage is None:
        raise ValueError(f"unknown mode {mode!r} ({' | '.join(STAGES)})")
    given = dict(sig_material=sig_material, filter_opts=filter_opts,
                 url_opts=url_opts, decontam_opts=decontam_opts,
                 domaincap_opts=domaincap_opts,
                 semdedup_opts=semdedup_opts, mix_opts=mix_opts,
                 dedupref_opts=dedupref_opts)
    opts = given.pop(stage.opts_kw, None) or {}
    # fail fast on a typo'd key: 'min_word' or 'blocked_domain' would
    # otherwise silently run the defaults (the sig_material lesson)
    keys = stage.option_keys()
    if bad := set(opts) - set(keys):
        raise ValueError(f"unknown {stage.opts_kw} keys {sorted(bad)} "
                         f"({' | '.join(keys)})")
    for other, st in STAGES.items():
        if given.get(st.opts_kw) is not None:
            raise ValueError(f"{st.opts_kw} is only valid with "
                             f"mode={other!r}")
    args, kw = stage.prep(spark, opts) if stage.prep else ((), opts)

    rid = run_id or uuid.uuid4().hex
    # column pruning reaches the scan: each mode reads only its columns
    corpus = spark.read.parquet(input_path).select(
        *(f.rsplit(" ", 1)[0] for f in stage.fields(opts)))
    # the resume contract keys on url, and a NULL key matches NOTHING
    # in the anti-join (SQL null equality) — a NULL-url row would be
    # reprocessed and its decision re-APPENDED on every resume no
    # matter what the operator writes (the operator-side coalesces
    # fix the OUTPUT row but sit on the wrong side of the anti-join).
    # Normalize the key once here, for every mode (r6 review).
    corpus = corpus.withColumn("url",
                               F.coalesce(F.col("url"), F.lit("")))

    prev = None
    if resume:
        try:
            # mergeSchema: a dir mixing pre-run_id part-files with
            # stamped ones must surface the run_id column regardless
            # of which footer Spark samples (r5 review: a hidden
            # column made EVERY run an "orphan" and double-counted
            # lineage)
            prev = (spark.read.option("mergeSchema", True)
                    .parquet(output_path))
        except AnalysisException:
            pass  # no prior output -> fresh run
    # the try covers ONLY the output read (ADVICE r5: the old block
    # also swallowed AnalysisExceptions thrown by reconciliation —
    # e.g. orphan rows written by a different --mode — and silently
    # skipped it); resume/reconcile failures now surface
    if prev is not None:
        if not stage.corpus_global:
            # join strategy left to Spark (job.resume_filter): `done`
            # is the UNBOUNDED set of all previously-written urls — a
            # forced broadcast OOMs exactly on the crash-recovery path
            # it exists for (r4 review fix)
            corpus = resume_filter(corpus, prev.select("url"))
        if metrics_path and "run_id" in prev.columns:
            _reconcile_metrics(spark, prev, metrics_path, stage.metrics)

    t0 = time.perf_counter()
    extracted = stage.op(corpus, *args, **kw)
    if stage.corpus_global and prev is not None:
        # dedup decisions are corpus-GLOBAL: a doc's keep_id depends
        # on every other doc, so resume must NOT shrink the input
        # (deciding the missing docs against a partial corpus would
        # mark survivors whose twins are already decided). Instead the
        # deterministic decision set is re-derived over the full input
        # snapshot and only the rows a crash failed to write are
        # appended — exactly-once rows, globally correct decisions.
        # This contract assumes the input SNAPSHOT is unchanged since
        # the crashed run: rows appended to the input in between can
        # DISPLACE already-written decisions (a hash-smaller doc
        # becomes the dedup winner / enters a full domain cap), and
        # written rows are immutable — audit and warn rather than
        # silently violate the invariant (r6 review).
        # one checkpoint of the full re-derived set feeds both the
        # displacement audit and the anti-join (the decision plan
        # would otherwise evaluate twice)
        extracted = extracted.localCheckpoint()
        if "status" in prev.columns:
            n_displaced = (
                extracted.select("url", "status")
                .join(prev.select("url", F.col("status")
                                  .alias("_prev_status")), "url")
                .filter(F.col("status") != F.col("_prev_status"))
                .count())
            if n_displaced:
                import warnings
                warnings.warn(
                    f"corpus-global resume: {n_displaced} previously"
                    "-written decision(s) diverge from the set "
                    "re-derived over the current input — the input "
                    "grew since the interrupted run. Written rows "
                    "are immutable, so mode invariants (dedup "
                    "uniqueness / domain caps) may now be violated; "
                    "corpus-global resume is crash recovery over an "
                    "unchanged snapshot, not incremental ingest.")
        extracted = resume_filter(extracted, prev.select("url"))
    # localCheckpoint (not cache): the resume anti-join scans
    # output_path lazily, so ANY recomputation after the append —
    # cache eviction included — would see the job's own freshly
    # written rows and anti-join everything away. Checkpointing cuts
    # that lineage outright.
    extracted = (extracted
                 .withColumn("run_id", F.lit(rid)).localCheckpoint())
    stats = {r["status"]: r["count"] for r in
             extracted.groupBy("status").count().collect()}
    extracted.write.mode("append").parquet(output_path)
    # metrics AFTER the output append: a crash between the two writes
    # used to leave metrics rows for work the resume re-runs, double-
    # counting lineage (the anti-join dedups only the output table);
    # the reconcile pass above covers the opposite loss (output
    # committed, metrics not)
    if metrics_path:
        stage.metrics(extracted.drop("run_id")) \
            .withColumn("run_id", F.lit(rid)) \
            .withColumn("reconciled", F.lit(False)) \
            .withColumn("ts", F.current_timestamp()) \
            .write.mode("append").parquet(metrics_path)
    wall = time.perf_counter() - t0
    return {"written": sum(stats.values()), "by_status": stats,
            "run_id": rid, "wall_sec": round(wall, 2)}


def _reconcile_metrics(spark, prev_output, metrics_path: str,
                       metrics_fn) -> None:
    """Append recomputed metrics rows for run_ids whose output
    committed but whose metrics append never ran (crash in between).
    Exact, not estimated: output rows carry every column the metrics
    aggregate reads."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException
    try:
        met = (spark.read.option("mergeSchema", True)
               .parquet(metrics_path))
        covered = (met.select("run_id").distinct()
                   if "run_id" in met.columns
                   else met.sparkSession.createDataFrame(
                       [], "run_id string"))
    except AnalysisException:
        covered = spark.createDataFrame([], "run_id string")
    orphans = (prev_output.filter(F.col("run_id").isNotNull())
               .select("run_id").distinct()
               .join(covered, "run_id", "left_anti"))
    # orphan set = number of crashed runs — tiny; broadcast is safe
    rows = prev_output.join(F.broadcast(orphans), "run_id")
    per_run = rows.select("run_id").distinct().collect()
    for r in per_run:
        one = rows.filter(F.col("run_id") == r["run_id"]).drop("run_id")
        metrics_fn(one) \
            .withColumn("run_id", F.lit(r["run_id"])) \
            .withColumn("reconciled", F.lit(True)) \
            .withColumn("ts", F.current_timestamp()) \
            .write.mode("append").parquet(metrics_path)


# every options kwarg but sig_material (built from the three file
# flags below) is a JSON-object flag, e.g.
# --filter-opts '{"min_words": 10, "langs": ["en", "de"]}'
_JSON_OPTS = [st.opts_kw for st in STAGES.values()
              if st.opts_kw and st.opts_kw.endswith("_opts")]


def _arg_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="pdfio-spark extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--mode", choices=tuple(STAGES), default="pdf",
                    help="; ".join(f"{m}: {st.doc}"
                                   for m, st in STAGES.items()))
    # sigaudit material: os.pathsep-separated file paths, read on the
    # driver and shipped into task closures (works on a real cluster
    # where executors lack the driver's filesystem); omit to fall
    # through to the executor-side $PDFIO_SPARK_* env lookup
    ap.add_argument("--trust-pems", default=None)
    ap.add_argument("--crl-pems", default=None)
    ap.add_argument("--ocsp-ders", default=None)
    # --mode urlfilter: a newline-separated entry file read here, before
    # the job starts (a UT1-style list doesn't fit in argv), merged into
    # url_opts
    ap.add_argument("--blocked-domains", default=None)
    for kw in _JSON_OPTS:
        ap.add_argument("--" + kw.replace("_", "-"), default=None)
    return ap


def main(argv=None) -> None:
    import json
    args = _arg_parser().parse_args(argv)
    opts = {kw: json.loads(getattr(args, kw)) for kw in _JSON_OPTS
            if getattr(args, kw) is not None}
    if args.blocked_domains is not None:
        with open(args.blocked_domains) as f:
            doms = [ln.strip() for ln in f if ln.strip()
                    and not ln.strip().startswith("#")]
        opts["url_opts"] = dict(opts.get("url_opts") or {},
                                blocked_domains=doms)

    # build sig_material from the flags in EVERY mode: run_job's
    # mode guard then rejects e.g. `--mode pdf --crl-pems x.pem`
    # loudly instead of the flags being silently dropped — the exact
    # silent-no-revocation failure the sig_material key check exists
    # to prevent (r6 review x2)
    from ..pd.signature import read_pathsep_blobs
    sig_material = {
        k: read_pathsep_blobs(spec) for k, spec in
        (("trust_pems", args.trust_pems), ("crl_blobs", args.crl_pems),
         ("ocsp_ders", args.ocsp_ders)) if spec}

    from .session import get_spark
    spark = get_spark(cpus=args.cpus, app="pdfio_spark_job")
    spark.sparkContext.setLogLevel("WARN")
    out = run_job(spark, args.input, args.output, args.metrics,
                  args.resume, mode=args.mode,
                  sig_material=sig_material or None, **opts)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
