"""Batch job entrypoint — the spark-submit surface.

    spark-submit --py-files pdfio_spark.zip pdfio_spark/pipeline/run.py \
        --input  <parquet/iceberg of (url, warc_ts, html, text, lang)> \
        --output <results dir/table> --metrics <metrics dir/table> \
        [--resume] [--cpus N] [--mode MODE] [--opts JSON]

Every --mode is one row of STAGES below, in one place: its operator,
its lineage counters (Spark SQL aggregates over output-borne columns,
which `lineage` applies per partition and stamps with the run), the
input columns its scan prunes to (also the source schema of its
streaming twin in streaming.py), whether its decisions are
corpus-global, the option keys it accepts and a one-line description
(`--help` lists them). `bind` validates a mode's options from its row
alone (`check_opts`, which needs no session), for run_job and
streaming.stream_stage alike. --mode pdf (default) runs the full PDF
parse stack. All modes share the resume/metrics/run_id-reconcile
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

from .html_extract import extract_html
from .job import (PII_CATEGORIES, QUALITY_REASONS, URL_REASONS,
                  annotate_wat, annotate_wet, decontam_decisions,
                  dedup_against, dedup_decisions, domain_cap_decisions,
                  extract_pdfs, linededup_decisions, mix_decisions,
                  pii_scrub_over, quality_decisions, resume_filter,
                  semdedup_decisions, substrdedup_decisions,
                  url_filter_decisions, urldedup_decisions,
                  validate_signatures_over)


class Stage(NamedTuple):
    """One run.py mode. `op(corpus, *args, **kw)` -> output rows, where
    (args, kw) is `prep(spark, opts)` when set (side inputs read before
    the job starts) and ((), opts) otherwise (see bind)."""
    op: Callable
    # the lineage counters: Spark SQL aggregates over the output rows,
    # one metrics row per partition (see lineage)
    metrics: tuple
    # "name type" fields the scan prunes to (a function of the options
    # where they decide the columns); also the streaming twin's schema
    cols: tuple | Callable = ("url string", "html binary")
    # decisions depend on EVERY other doc: resume must re-derive over
    # the full input, then append only unwritten rows
    corpus_global: bool = False
    # accepted option keys: () = none, None = the op's keyword
    # parameters
    keys: tuple | None = ()
    prep: Callable | None = None
    doc: str = ""

    def fields(self, opts=None) -> tuple:
        return self.cols(opts or {}) if callable(self.cols) else self.cols

    def option_keys(self) -> tuple:
        if self.keys is None:
            return tuple(inspect.signature(self.op).parameters)[1:]
        return self.keys


_TEXT = ("url string", "text string")

_DOCS = "count(*) AS n_docs"
_KEPT = "sum(cast(is_kept AS int)) AS n_kept"


# counters are sum(if(..)), not count_if: the metrics schema keeps them
# nullable (count_if is NOT NULL)
def _is(status: str, name: str = "") -> str:
    return f"sum(if(status = '{status}', 1, 0)) AS {name or 'n_' + status}"


def _tagged(tags) -> tuple:
    # a row tripping two rules counts in both
    return tuple(f"sum(if(array_contains(reasons, '{t}'), 1, 0)) AS n_{t}"
                 for t in tags)


def _sums(*cols) -> tuple:
    return tuple(f"sum({c}) AS {c}" for c in cols)


_DEDUP = (_DOCS, _KEPT, _is("exact_dup"), _is("near_dup"))


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
        raise ValueError("mode='dedupref' needs exactly one of "
                         "reference_path (frozen kept corpus, hashed "
                         "inline) / index_path (build_dedup_index "
                         "output — the amortized daily path)")
    ref = (spark.read.parquet(o["reference_path"]).select("text")
           if "reference_path" in o else None)
    return (ref,), {"index_path": o.get("index_path")}


STAGES: dict[str, Stage] = {
    "pdf": Stage(
        extract_pdfs,
        (_DOCS, "sum(nbytes) AS sum_bytes", "sum(n_pages) AS sum_pages",
         "max(dur_us) AS max_dur_us", _is("ok")),
        doc="full PDF parse stack over (url, html = PDF bytes), "
            "split-path skew topology"),
    "html": Stage(
        extract_html,
        (_DOCS, "sum(n_blocks) AS sum_blocks",
         "sum(length(main_text)) AS sum_chars", _is("ok")),
        doc="web-page boilerplate strip over the same table shape"),
    "wet": Stage(
        annotate_wet,
        # empty text splits to [''] -> ws_tokens 1; only ok rows carry
        # real tokens (r5 review: phantom +1/empty)
        (_DOCS, "sum(n_chars_actual) AS sum_chars",
         "sum(if(status = 'ok', ws_tokens, 0)) AS sum_tokens", _is("ok")),
        _TEXT,
        doc="pre-extracted text (sources.read_wet) annotated with the "
            "oracle-verified analytics set"),
    "wat": Stage(
        annotate_wat,
        (_DOCS, "sum(n_keys) AS sum_keys", "sum(nbytes) AS sum_bytes",
         _is("ok")),
        ("url string", "metadata map<string,string>", "nbytes long"),
        doc="flattened crawl metadata (sources.read_wat) -> typed "
            "content type / server / status / link count / title"),
    "dedup": Stage(
        dedup_decisions, _DEDUP, _TEXT, True,
        doc="composed exact + near-dup keep decisions over (url, text)"),
    # material from --trust-pems/--crl-pems/--ocsp-ders (read once,
    # shipped in task closures) or each executor's $PDFIO_SPARK_* env;
    # a typo'd 'crl_blobs' would otherwise silently audit WITHOUT
    # revocation checking, so the keys are pinned (export_certs is not
    # a mode key). Output rows are per signature: n_sigs counts a
    # 3-signature doc 3 times; nosig/error rows are per doc.
    "sigaudit": Stage(
        validate_signatures_over,
        ("count(*) AS n_rows", _is("ok", "n_sigs"),
         "sum(if(passed, 1, 0)) AS n_passed",
         "sum(if(err = 'revoked signer certificate', 1, 0)) AS n_revoked",
         "sum(if(err = 'untrusted signer certificate', 1, 0)) "
         "AS n_untrusted", _is("nosig"), _is("error")),
        keys=("trust_pems", "crl_blobs", "ocsp_ders"),
        doc="corpus-scale signature audit over (url, html), trust and "
            "CRL/OCSP material from the --trust-pems/--crl-pems/"
            "--ocsp-ders files"),
    # defaults are tuned for real web text — a real corpus run is
    # EXPECTED to tune them (100%-drop on synthetic short-text corpora
    # is faithful, not a bug)
    "filter": Stage(
        quality_decisions, (_DOCS, _is("kept"), *_tagged(QUALITY_REASONS)),
        _TEXT, keys=None,
        doc="Gopher/C4-style quality gate: keep decisions with "
            "per-rule reason tags, map-only"),
    "pii": Stage(
        pii_scrub_over,
        (_DOCS, _is("scrubbed"),
         *_sums("n_pii", *(f"n_{c}" for c in PII_CATEGORIES))),
        _TEXT,
        doc="PII redaction plus per-category counters, map-only"),
    "urlfilter": Stage(
        url_filter_decisions, (_DOCS, _is("kept"), *_tagged(URL_REASONS)),
        ("url string",), keys=None,
        doc="URL gate before any content is read (--blocked-domains "
            "merges a list read from a file into the options)"),
    "decontam": Stage(
        decontam_decisions,
        (_DOCS, _is("kept"), _is("dropped", "n_contaminated"),
         *_sums("n_contam_grams", "n_contam_spans")),
        _TEXT, keys=("benchmark_path", "benchmark_texts", "k", "min_hits"),
        prep=_decontam_prep,
        doc="benchmark decontamination: drop docs sharing a k-token "
            "span with an evaluation set"),
    # a domain's keep set depends on every other doc in it; no
    # distinct-domain counter (see lineage)
    "domaincap": Stage(
        domain_cap_decisions,
        (_DOCS, _is("kept"), _is("dropped", "n_capped")),
        _domaincap_cols, True, keys=None,
        doc="per-registrable-domain document or token cap"),
    "linededup": Stage(
        linededup_decisions,
        (_DOCS, _is("deduped"), *_sums("n_lines", "n_kept")), _TEXT, True,
        doc="C4 corpus-level line dedup"),
    "substrdedup": Stage(
        substrdedup_decisions,
        (_DOCS, _is("deduped"),
         *_sums("n_tokens", "n_dup_starts", "n_kept")), _TEXT, True,
        doc="exact-substring dedup"),
    "semdedup": Stage(
        semdedup_decisions, (_DOCS, _KEPT, _is("sem_dup")),
        ("url string", "embedding array<float>"), True, keys=None,
        doc="SemDeDup embedding-cluster semantic dedup over "
            "(url, embedding)"),
    # n_copies_out: the corpus size mix_apply would produce
    "mix": Stage(
        mix_decisions,
        (_DOCS, _is("dropped"), _is("kept"), _is("upsampled"),
         "sum(n_copies) AS n_copies_out"),
        _mix_cols, keys=None,
        doc="data-mixture sampling: per-key rates (registrable domain "
            "or key_col), deterministic down/upsampling, map-only"),
    "dedupref": Stage(
        dedup_against, _DEDUP, _TEXT,
        keys=("reference_path", "index_path"), prep=_dedupref_prep,
        doc="decide a NEW crawl against a FROZEN kept corpus, "
            "doc-local given the reference"),
    "urldedup": Stage(
        urldedup_decisions, (_DOCS, _KEPT, _is("url_dup")),
        ("url string",), True,
        doc="collapse recrawls of the same resource by normalized url"),
}


def check_opts(mode: str, opts: dict | None = None) -> Stage:
    """The STAGES row of `mode` after checking `opts` against it: the
    mode exists and takes every given key. Needs no session, so a
    launcher can run it before the JVM starts."""
    stage = STAGES.get(mode)
    if stage is None:
        raise ValueError(f"unknown mode {mode!r} ({' | '.join(STAGES)})")
    keys = stage.option_keys()
    if opts and not keys:
        raise ValueError(f"mode={mode!r} takes no options, got "
                         f"{sorted(opts)}")
    # fail fast on a typo'd key: 'min_word' or 'blocked_domain' would
    # otherwise silently run the defaults (the sigaudit 'crls' lesson)
    if bad := set(opts or {}) - set(keys):
        raise ValueError(f"unknown {mode} option keys {sorted(bad)} "
                         f"({' | '.join(keys)})")
    return stage


def bind(spark, mode: str, opts: dict | None = None):
    """(stage, args, kw) of `mode` under `opts`, validated from its
    STAGES row alone (check_opts), before any read: the op runs as
    `stage.op(corpus, *args, **kw)`. `prep` (the side-input read) runs
    last."""
    stage = check_opts(mode, opts)
    opts = dict(opts or {})
    args, kw = stage.prep(spark, opts) if stage.prep else ((), opts)
    return stage, args, kw


def lineage(extracted, mode: str, run_id: str, reconciled: bool = False):
    """The metrics rows of one run of `mode` over its output rows: the
    stage's counters per partition (the checkpoint payload, SURVEY
    §2.1 S10), stamped with the run."""
    from pyspark.sql import functions as F
    # every counter reads only columns the output rows carry, so
    # reconcile recomputes it exactly from the committed output; and
    # none is a per-partition distinct, which would not sum exactly
    # across the resume read's partitioning
    return (extracted
            .withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(*(F.expr(a) for a in STAGES[mode].metrics))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("reconciled", F.lit(reconciled))
            .withColumn("ts", F.current_timestamp()))


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
            opts: dict | None = None) -> dict:
    """Run one STAGES mode over the input table. mode='pdf' (default):
    full PDF parse stack. mode='html': the web-page half — DOM
    block-scoring boilerplate strip over the same (url, html binary)
    table shape, same resume/metrics contract. `opts` are the mode's
    option keys (Stage.keys; see bind).

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
    stage, args, kw = bind(spark, mode, opts)

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
        # a declared schema, not inference: mergeSchema read every
        # part-file footer in a Spark job on each resume, O(output
        # files). A dir mixing pre-run_id part-files with stamped ones
        # still surfaces run_id (NULL for the old rows) whichever
        # footer Spark samples (r5 review: a hidden column made EVERY
        # run an "orphan" and double-counted lineage). The input read
        # above keeps its inference: declared, a missing column would
        # read as silent NULLs.
        fields = "url string, run_id string"
        if stage.corpus_global:
            fields += ", status string"  # the displacement audit
        try:
            prev = spark.read.schema(fields).parquet(output_path)
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
        if metrics_path:
            _reconcile_metrics(spark, prev, output_path, metrics_path,
                               mode)

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
        lineage(extracted, mode, rid).write.mode("append") \
            .parquet(metrics_path)
    wall = time.perf_counter() - t0
    return {"written": sum(stats.values()), "by_status": stats,
            "run_id": rid, "wall_sec": round(wall, 2)}


def _reconcile_metrics(spark, prev_output, output_path: str,
                       metrics_path: str, mode: str) -> None:
    """Append recomputed metrics rows for run_ids whose output
    committed but whose metrics append never ran (crash in between).
    Exact, not estimated: output rows carry every column the metrics
    aggregate reads. `prev_output` holds only (url, run_id, ...); the
    orphan check is one query over the two run_id sets, and the full
    output is read only when an orphan exists."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException
    runs = prev_output.select("run_id", F.lit(False).alias("in_metrics"))
    try:
        met = spark.read.schema("run_id string").parquet(metrics_path)
        runs = runs.unionByName(
            met.select("run_id", F.lit(True).alias("in_metrics")))
    except AnalysisException:
        pass  # no metrics yet: every stamped run is an orphan
    orphans = [r["run_id"] for r in
               runs.filter(F.col("run_id").isNotNull())
               .groupBy("run_id").agg(F.max("in_metrics").alias("m"))
               .filter(~F.col("m")).select("run_id").collect()]
    if not orphans:
        return
    # the aggregate needs the output's other columns: infer them now
    full = spark.read.option("mergeSchema", True).parquet(output_path)
    for rid in orphans:
        lineage(full.filter(F.col("run_id") == rid), mode, rid, True) \
            .write.mode("append").parquet(metrics_path)


# sigaudit material: the flag that names its files, per option key
_SIG_FLAGS = {"trust_pems": "trust_pems", "crl_blobs": "crl_pems",
              "ocsp_ders": "ocsp_ders"}


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
    # the mode's options as one JSON object, e.g. --mode filter
    # --opts '{"min_words": 10, "langs": ["en", "de"]}'
    ap.add_argument("--opts", default=None)
    # sigaudit material: os.pathsep-separated file paths, read on the
    # driver and shipped into task closures (works on a real cluster
    # where executors lack the driver's filesystem); omit to fall
    # through to the executor-side $PDFIO_SPARK_* env lookup
    for flag in _SIG_FLAGS.values():
        ap.add_argument("--" + flag.replace("_", "-"), default=None)
    # --mode urlfilter: a newline-separated entry file read here, before
    # the job starts (a UT1-style list doesn't fit in argv), merged into
    # the options
    ap.add_argument("--blocked-domains", default=None)
    return ap


def main(argv=None) -> None:
    import json
    args = _arg_parser().parse_args(argv)
    opts = json.loads(args.opts) if args.opts is not None else {}
    if not isinstance(opts, dict):
        raise ValueError("--opts must be a JSON object")
    if bad := set(opts) & set(_SIG_FLAGS):
        raise ValueError(f"{sorted(bad)}: sigaudit material comes from "
                         "the --trust-pems/--crl-pems/--ocsp-ders files")
    if args.blocked_domains is not None:
        with open(args.blocked_domains) as f:
            opts["blocked_domains"] = [
                ln.strip() for ln in f
                if ln.strip() and not ln.strip().startswith("#")]
    # read the material flags in EVERY mode: bind then rejects e.g.
    # `--mode pdf --crl-pems x.pem` loudly instead of the flags being
    # silently dropped — the exact silent-no-revocation failure the
    # sigaudit key check exists to prevent (r6 review x2)
    from ..pd.signature import read_pathsep_blobs
    for key, flag in _SIG_FLAGS.items():
        if spec := getattr(args, flag):
            opts[key] = read_pathsep_blobs(spec)
    # a typo'd key fails here, not after a JVM start
    check_opts(args.mode, opts)

    from .session import get_spark
    spark = get_spark(cpus=args.cpus, app="pdfio_spark_job")
    spark.sparkContext.setLogLevel("WARN")
    print(run_job(spark, args.input, args.output, args.metrics,
                  args.resume, mode=args.mode, opts=opts))
    spark.stop()


if __name__ == "__main__":
    main()
