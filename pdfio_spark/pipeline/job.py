"""Spark extraction pipeline — the inter-document plane.

Topology (SURVEY §2.1 S1/S10, §4.2):

    scan (url, html)            [SQL: column-pruned parquet/iceberg scan]
      -> split by size: small docs stay on their scan partition,
         the heavy tail is shuffled by url  [custom: large-PDF skew]
      -> extract_in_place                   [UDF (map_rows): the parse stack]
      -> results + per-partition metrics    [SQL: checkpointed lineage]

The extraction UDF is Arrow-batched: one Python process decodes a
RecordBatch of (url, html) rows and emits results per row — no per-row
Python<->JVM round trips. Failure isolation is row-level (status/err
columns); a corrupt PDF never fails a task.

At 100 TB the same topology holds: the scan is an Iceberg table with
url/html pruned at the source, the tail shuffle spreads multi-GB
PDFs across executors, and the output is an Iceberg append that gives
exactly-once resume via an anti-join on completed urls.
"""
from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from ..fixtures import FIXTURE_CLASSES, build_fixture, chunk_text, sanitize
from .maprows import map_rows

__all__ = ["gen_pdf_corpus", "extract_pdfs", "extract_in_place",
           "resume_filter"]

# Output schema of the extraction stage (FIXTURES.md §5, spans optional)
_EXTRACT_DDL = ("url string, n_pages int, text string, status string, "
                "err string, nbytes long, dur_us long")


def make_pdf_for_doc(doc_id: int, text: str, classes=None) -> bytes:
    """Deterministic PDF for a documents-table row: fixture class cycles
    by doc_id; content lines are the sanitized, prefixed, 60-char-chunked
    text (SQL-expressible — the DuckDB oracle predicts the output)."""
    classes = classes or FIXTURE_CLASSES
    cls = classes[doc_id % len(classes)]
    s = f"Doc {doc_id}: " + sanitize(text or "")
    lines = chunk_text(s, 60, 8)
    return build_fixture(cls, lines)


def gen_pdf_corpus(docs: DataFrame, classes: list[str] | None = None,
                   partitions: int | None = None) -> DataFrame:
    """documents(doc_id, text, ...) -> (url, html, nbytes) with PDF bytes.
    Runs as one Arrow-batched stage; in production this is simply the
    Common-Crawl Iceberg scan instead."""
    cls_tuple = tuple(classes) if classes else None

    def gen(did, txt):
        pdf = make_pdf_for_doc(int(did), txt or "", cls_tuple)
        yield f"doc://{did}", pdf, len(pdf)

    # a single small parquet file arrives as ONE partition — fan out so
    # generation parallelizes and downstream stages inherit parallelism
    sc = docs.sparkSession.sparkContext
    # one task per core: single-wave execution measured ~35% faster than
    # 2x overpartitioning for the CPU-bound UDF stage on local[32]
    if partitions is None:
        partitions = max(sc.defaultParallelism, 8)
    docs = docs.select("doc_id", "text").repartition(partitions)
    return map_rows(docs, ["doc_id", "text"],
                    "url string, html binary, nbytes long", gen)


# per-row wall-clock budget (SURVEY R3): cycle guards and page caps
# bound most adversarial inputs, but a CPU bomb (pathological content
# streams) must not stall a task indefinitely
ROW_TIMEOUT_SEC = float(__import__("os").environ.get(
    "PDFIO_ROW_TIMEOUT_SEC", "120"))


class RowTimeout(BaseException):
    """SIGALRM row-budget signal. Derives from BaseException ON PURPOSE:
    the extraction kernel quarantines `Exception` at doc AND page level
    (pd/extract.py), so a TimeoutError raised mid-page used to be
    recorded as that page's error while the disarmed one-shot timer let
    the remaining pages run with no budget at all (r4 review fix)."""


def _extract_with_timeout(html: bytes, timeout_sec: float, **kw) -> dict:
    from ..pd.extract import extract_doc
    if timeout_sec <= 0:
        return extract_doc(html, **kw)
    import signal
    try:
        def _on_alarm(signum, frame):
            raise RowTimeout("row extraction budget exceeded")
        old = signal.signal(signal.SIGALRM, _on_alarm)
    except ValueError:
        # not the worker's main thread -> no alarm available
        return extract_doc(html, **kw)
    try:
        # arm INSIDE the try: an alarm firing between setitimer and
        # try-entry used to escape the except entirely (r5 review)
        signal.setitimer(signal.ITIMER_REAL, timeout_sec)
        return extract_doc(html, **kw)
    except RowTimeout as e:
        return {"n_pages": 0, "text": "", "pages": [],
                "status": "timeout", "err": str(e)}
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def _extract_row(url, html):
    t0 = time.perf_counter_ns()
    try:
        r = _extract_with_timeout(html or b"", ROW_TIMEOUT_SEC)
    except RowTimeout as e:
        # the alarm can fire in _extract_with_timeout's finally
        # (after extract returned, before setitimer(0)) and
        # escape its except — RowTimeout is a BaseException, so
        # without this guard it would kill the task
        r = {"n_pages": 0, "text": "", "status": "timeout", "err": str(e)}
    dur = (time.perf_counter_ns() - t0) // 1000
    yield (url, r["n_pages"], r["text"], r["status"], r["err"],
           len(html or b""), dur)


def extract_in_place(corpus: DataFrame) -> DataFrame:
    """(url, html) -> extraction rows on the input's own partitioning:
    the one extraction UDF, shared by extract_pdfs and
    stream_stage("pdf")."""
    return map_rows(corpus, ["url", "html"], _EXTRACT_DDL, _extract_row)


# docs above this size go through the tail shuffle; everything else
# extracts in place on the scan partitioning (zero shuffle)
SKEW_THRESHOLD_BYTES = 2 * 1024 * 1024


def extract_pdfs(corpus: DataFrame,
                 skew_threshold: int = SKEW_THRESHOLD_BYTES) -> DataFrame:
    """(url, html[, nbytes]) -> extraction rows.

    Skew defense (SURVEY §4.2), restructured for scale: shuffling the
    WHOLE corpus before the UDF costs a full copy of the input (fatal at
    100 TB, and measurably ~30%% of wall clock even at bench scale).
    Instead:

      - small docs (the overwhelming majority) extract IN PLACE on the
        scan partitioning — `maxPartitionBytes` already bounds the bytes
        per task, so per-task cost is bounded when cost ~ size;
      - the heavy tail (> skew_threshold) is hash-spread by url across
        the cluster so multi-GB PDFs with super-linear parse cost
        cannot straggle one scan partition; this shuffles only the tail.

    AQE cannot split a straggler *row*, so the split must happen before
    the UDF stage. The tail shuffle has no partition count, so AQE sizes
    it: the hash partitions coalesce to about max(tail bytes /
    defaultParallelism, 1 MB minPartitionSize) each, which spreads a
    tail of docs over the threshold across the cores. Both branches
    meet BEFORE the one UDF, so when the tail shuffle holds no rows AQE
    drops its union branch and starts no Python task for it. Measured
    at local[2] on a tail-free `pdf_mixed` step: the explicit
    `repartition(max(defaultParallelism, 8))` this replaces, which AQE
    neither coalesces nor prunes, ran 8 empty Python tasks of ~250 ms
    beside the 2 that held rows.
    """
    df = corpus
    if "nbytes" not in df.columns:
        df = df.withColumn("nbytes", F.length("html").cast("long"))
    # NULL html (or a NULL pre-supplied nbytes) fails BOTH branch
    # filters and used to vanish silently — route it to the small path,
    # where the UDF's `html or b""` quarantines it as an error row
    # (r5 review)
    df = df.withColumn("nbytes", F.coalesce("nbytes", F.lit(0)))
    small = df.filter(F.col("nbytes") <= skew_threshold).select("url", "html")
    tail = (df.filter(F.col("nbytes") > skew_threshold)
            .select("url", "html")
            .repartition("url"))
    return extract_in_place(small.unionByName(tail))


def extract_pdfs_sharded(corpus: DataFrame, pages_per_shard: int = 4,
                         shard_partitions: int | None = None) -> DataFrame:
    """Page-level sharding for pathological documents (SURVEY R5): a
    10k-page PDF must not monopolize one core for minutes.

        probe (cheap page count)            [UDF: xref + page tree only]
          -> explode page ranges            [SQL: sequence + explode]
          -> repartition(url, shard)        [shuffle: doc bytes x shards]
          -> extract page range             [UDF]
          -> ordered reassembly per url     [SQL: _reassemble_shards]

    Tradeoff: the shuffle duplicates the doc bytes per shard, so this is
    the path for the page-heavy tail only — route docs here by a page
    count or size threshold, everything else through extract_pdfs.
    """
    from ..pd.pagetree import PDDoc

    if shard_partitions is None:
        sc = corpus.sparkSession.sparkContext
        shard_partitions = max(sc.defaultParallelism, 8)

    def probe(url, html):
        try:
            n = PDDoc(html or b"").page_count()
        except Exception:
            n = 0
        yield url, html, n

    probed = map_rows(corpus, ["url", "html"],
                      "url string, html binary, n_pages int", probe)
    shards = probed.select(
        "url", "html", "n_pages",
        F.explode(F.sequence(
            F.lit(0),
            F.greatest(F.ceil(F.col("n_pages") / pages_per_shard) - 1,
                       F.lit(0)))).alias("shard_id"))
    shards = shards.repartition(shard_partitions, "url", "shard_id")

    def extract_range(url, html, np_, sid):
        # same per-row budget as the plain path: the sharded path
        # exists FOR pathological docs, so a CPU-bomb page must yield
        # a 'timeout' shard, not a stalled task
        r = _extract_with_timeout(html or b"", ROW_TIMEOUT_SEC,
                                  first_page=sid * pages_per_shard + 1,
                                  last_page=min((sid + 1) * pages_per_shard,
                                                np_))
        yield url, sid, np_, r["text"], r["status"], r["err"]

    parts = map_rows(shards, ["url", "html", "n_pages", "shard_id"],
                     "url string, shard_id int, n_pages int, text string, "
                     "status string, err string", extract_range)
    return _reassemble_shards(parts)


def _reassemble_shards(parts: DataFrame) -> DataFrame:
    """(url, shard_id, n_pages, text, status, err) shard rows -> one
    (url, n_pages, text, status, err) row per url, in the JVM: texts
    joined in shard order, non-empty errors joined by '; ' and cut to
    2000 characters.

    The status mirrors extract_doc's full lattice: 'empty' is a BENIGN
    no-text outcome (the plain path skips blank pages and still reports
    ok); a 'partial' shard CARRIES text, so an all-partial doc is
    partial, not error; and failures with zero extracted text anywhere
    (error/timeout shards mixed only with empty) are 'error', since
    'partial' must never label an unusable doc."""
    p = F.sort_array(F.collect_list(F.struct(
        "shard_id", "n_pages", "text",
        F.coalesce("status", F.lit("")).alias("status"), "err")))
    status = F.expr("""
        CASE WHEN exists(p, s -> s.status NOT IN ('ok', 'empty'))
             THEN CASE WHEN exists(p, s -> s.status IN ('ok', 'partial'))
                       THEN 'partial' ELSE 'error' END
             WHEN exists(p, s -> s.status = 'ok') THEN 'ok'
             ELSE 'empty' END""")
    err = F.expr("array_join(filter(p.err, e -> e != ''), '; ')")
    return (parts.groupBy("url").agg(p.alias("p"))
            .select("url", F.col("p")[0]["n_pages"].alias("n_pages"),
                    F.array_join("p.text", "").alias("text"),
                    status.alias("status"),
                    F.substring(err, 1, 2000).alias("err")))


def annotate_wet(corpus: DataFrame) -> DataFrame:
    """WET-mode 'extraction': the text is already extracted (Common
    Crawl conversion records), so the production stage annotates each
    row with the oracle-verified analytics set (queries.
    text_metrics_cols — tokens, quality ratios, language vote,
    fingerprints) in one map-only pass. status mirrors the other
    modes' contract: 'empty' for a NULL/blank body."""
    from .queries import text_metrics_cols
    return (corpus.select(
        "url", "text", *text_metrics_cols())
        .withColumn("status",
                    F.when(F.col("n_chars_actual") > 0, "ok")
                    .otherwise("empty"))
        .withColumn("err", F.lit(None).cast("string")))


#: dotted prefix of the flattened HTTP-response half of a WAT
#: envelope (sources._flatten_wat's key scheme)
_WAT_HTTP = "Envelope.Payload-Metadata.HTTP-Response-Metadata."


def annotate_wat(corpus: DataFrame,
                 keep_metadata: bool = False) -> DataFrame:
    """WAT-mode 'extraction' (r6, completes the CC triple's
    production story beside pdf/html/wet): rows are
    (url, metadata map<string,string>, nbytes) from sources.read_wat;
    the stage promotes the metadata paths a crawl-selection pipeline
    filters on (content type, server, HTTP status, link count, page
    title) to typed columns in one map-only pass — plain JVM map
    lookups, no JSON parse, no shuffle. status mirrors the other
    modes: 'empty' for a row whose envelope carried no keys. The raw
    map is DROPPED by default (r6 review: on a real WAT table it is
    ~the whole input — carrying it would duplicate the corpus into
    the output append AND run_job's localCheckpoint); keep_metadata
    retains it for pipelines that filter on untyped paths
    downstream."""
    m = F.col("metadata")
    return (corpus.select(
        "url", *(["metadata"] if keep_metadata else []), "nbytes",
        # greatest(.., 0): a NULL map reads as size -1 (legacy) or
        # NULL — either would corrupt sum_keys lineage
        F.greatest(F.size("metadata"), F.lit(0)).alias("n_keys"),
        m[_WAT_HTTP + "Headers.Content-Type"].alias("content_type"),
        m[_WAT_HTTP + "Headers.Server"].alias("server"),
        m[_WAT_HTTP + "Response-Message.Status"].cast("int")
         .alias("http_status"),
        F.coalesce(m[_WAT_HTTP + "HTML-Metadata.Links.length"]
                   .cast("int"), F.lit(0)).alias("n_links"),
        m[_WAT_HTTP + "HTML-Metadata.Head.Title"].alias("title"))
        .withColumn("status",
                    F.when(F.col("n_keys") > 0, "ok")
                    .otherwise("empty"))
        .withColumn("err", F.lit(None).cast("string")))


def _decision_subjects(corpus: DataFrame):
    """(url, text) -> (ids, docs) of the corpus-global dedup ops: ids
    one (doc_id, url) row per distinct url, docs one (doc_id, text)
    row per doc_id = xxhash64(url), the id the streaming sub-document
    twins key by too."""
    # a url crawled twice is ONE decision subject: without this, the
    # final fan-out join emits two identical rows for it, and a
    # crash-resume (anti-join on url) then drops BOTH re-derived
    # copies — resumed output diverges from an uninterrupted run.
    # min(text), NOT dropDuplicates: a recrawl with a CHANGED body
    # must resolve to the same representative on every derivation, or
    # the resume's re-derived decision set differs from the crashed
    # run's (dropDuplicates keeps a partition-order-dependent row)
    # (r6 review x2)
    corpus = corpus.groupBy("url").agg(F.min("text").alias("text"))
    ids = corpus.select(F.xxhash64("url").alias("doc_id"), "url", "text")
    docs = ids.groupBy("doc_id").agg(F.min("text").alias("text"))
    return ids.select("doc_id", "url"), docs


def dedup_decisions(corpus: DataFrame) -> DataFrame:
    """Production surface of the composed dedup operator (r6): (url,
    text) -> exactly one keep decision per url via queries.
    dedup_keep_list (exact hash-groupBy FIRST -> MinHash over exact
    reps -> star connected components -> keep joins).

    Graph node ids are xxhash64(url) — connected_components needs
    LONG ids. A 64-bit collision makes two urls share a decision row
    (both resolve to the same doc_id; min(text) picks the corpus copy
    deterministically) — the failure direction is benign (both kept /
    both judged together, never a lost row: the url->decision join
    fans every input url back out). At 10^12 docs collisions become
    plausible (~birthday at 4e9) — materialize a dense surrogate id
    once (monotonically_increasing_id over a frozen snapshot) and key
    the graph on that instead.

    status: 'kept' (the cluster representative), 'exact_dup' (a
    byte-identical copy of its exact-group rep), 'near_dup' (an exact
    rep whose cluster keep is another doc)."""
    from .queries import dedup_keep_list
    ids, docs = _decision_subjects(corpus)
    dec = dedup_keep_list(docs)
    keep_urls = ids.select(F.col("doc_id").alias("keep_id"),
                           F.col("url").alias("keep_url"))
    # keep_url: ONE url per keep_id (collision-safe min) — keep_id is
    # always a doc_id present in ids, so the join never drops rows
    keep_urls = keep_urls.groupBy("keep_id").agg(
        F.min("keep_url").alias("keep_url"))
    return (ids.join(dec, "doc_id")
            .join(keep_urls, "keep_id")
            .select("url", "text_hash", "n_dups", "keep_url", "is_kept",
                    F.when(F.col("is_kept"), "kept")
                    .when(F.col("doc_id") != F.col("exact_keep"),
                          "exact_dup")
                    .otherwise("near_dup").alias("status")))


def build_dedup_index(reference: DataFrame, index_path: str,
                      mode: str = "error") -> None:
    """Persist the frozen reference's dedup index once so daily
    dedup_against runs never re-scan or re-melt the history: writes
    `index_path/th` (distinct xxhash64(text) — 8 bytes/distinct doc)
    and `index_path/bands` (distinct (band, bucket) keys from the
    shared minhash_band_melt kernel), then `index_path/meta` LAST —
    meta is the commit marker (a crash between the two key writes
    leaves a mixed-generation index that would decide silently
    wrong; dedup_against refuses an index whose meta is missing) and
    carries the band-kernel identity (MINHASH_KERNEL_ID — keys from
    a different kernel version would drop near recall to ~0 with no
    error; r6 review x2). Rebuild only when the kept corpus changes
    (e.g. after appending the day's survivors)."""
    from .queries import MINHASH_KERNEL_ID, minhash_band_melt
    spark = reference.sparkSession
    # tombstone FIRST (portable — a plain Spark overwrite, works on
    # object storage where a local rmtree would silently no-op): a
    # crash mid-rebuild must not leave the PREVIOUS generation's
    # valid meta beside partially rewritten keys
    (spark.createDataFrame([("rebuilding",)], "kernel string")
     .write.mode("overwrite").parquet(f"{index_path}/meta"))
    (reference.select(F.xxhash64("text").alias("th")).distinct()
     .write.mode(mode).parquet(f"{index_path}/th"))
    (minhash_band_melt(
        reference.select(F.lit(0).alias("rid"), "text"), id_col="rid")
     .select("band", "bucket").distinct()
     .write.mode(mode).parquet(f"{index_path}/bands"))
    (spark.createDataFrame([(MINHASH_KERNEL_ID,)], "kernel string")
     .write.mode("overwrite").parquet(f"{index_path}/meta"))


def dedup_against(corpus: DataFrame,
                  reference: DataFrame | None = None,
                  index_path: str | None = None) -> DataFrame:
    """Incremental dedup (run.py --mode dedupref): decide NEW docs
    against an EXISTING kept corpus — the daily-crawl shape, where
    re-running corpus-global dedup over reference+increment would
    re-shuffle the whole historical corpus for a 1% increment. Pass
    EITHER `reference` (a (.., text) DataFrame — hashed and melted
    inline, two full reference scans per run) or `index_path` (the
    build_dedup_index output — the amortized path: at 100x-increment
    scale the inline reference melt dominates wall time, the index
    read is just the distinct keys). Returns one decision per url.

    Exact stage: xxhash64(text) membership flag via ONE left join
    against the reference's DISTINCT hash set. Near stage: THE shared
    band kernel (minhash_band_melt — batch q_dedup_minhash and streaming
    stream_neardup agree with it by construction), checked only for
    docs the exact stage did NOT claim (recrawl-heavy increments are
    the common case; exact dups skip the 16-minhash melt entirely):
    a doc with any (band, bucket) key present in the reference melt
    is a near_dup. stream_neardup is this same decision
    arrival-order online; this is the batch form against a frozen
    snapshot.

    Skew: the REFERENCE side is distinct'd (a million-way-duplicated
    reference text/bucket joins as one row), so reference skew
    cannot form; duplication WITHIN the increment still concentrates
    a hot th / band key's probe rows on one SMJ task — for an
    increment that is itself heavily duplicated, run the
    corpus-global --mode dedup first (its exact stage collapses the
    copies), which is also the documented composition for new-vs-new
    duplication: this operator deliberately does NOT decide it.
    Decisions are doc-local GIVEN the frozen reference, so the
    standard per-url resume anti-join applies (NOT corpus_global).

    status: kept | exact_dup | near_dup (shares the dedup mode's
    metrics counters via the is_kept column)."""
    if (reference is None) == (index_path is None):
        raise ValueError("pass exactly one of reference / index_path")
    from .queries import minhash_band_melt
    # NULL url -> '' (the urlfilter/mix/semdedup rule: a NULL key
    # silently drops the _ex/_nr join flags below AND can never
    # resume — r6 review, confirmed by repro)
    corpus = (corpus
              .withColumn("url", F.coalesce(F.col("url"), F.lit("")))
              .groupBy("url").agg(F.min("text").alias("text")))
    ids = corpus.select("url", "text",
                        F.xxhash64("text").alias("th"))
    if index_path is not None:
        spark = corpus.sparkSession
        from .queries import MINHASH_KERNEL_ID
        from pyspark.sql.utils import AnalysisException
        try:
            meta = spark.read.parquet(f"{index_path}/meta").collect()
        except AnalysisException:
            meta = []
        kernels = [r.kernel for r in meta]
        if kernels != [MINHASH_KERNEL_ID]:
            raise ValueError(
                f"dedup index at {index_path} is not a committed "
                f"build_dedup_index output for kernel "
                f"{MINHASH_KERNEL_ID!r} (found {kernels!r}) — an "
                "interrupted rebuild or a stale/foreign kernel would "
                "decide silently wrong")
        # distinct() insurance: a th/bands dir someone APPENDED to
        # across builds has duplicate keys, and a duplicate fans the
        # left join out into N identical decision rows per url
        ref_h = (spark.read.parquet(f"{index_path}/th").distinct())
        ref_keys = (spark.read.parquet(f"{index_path}/bands")
                    .distinct())
    else:
        ref_h = (reference.select(F.xxhash64("text").alias("th"))
                 .distinct())
        ref_keys = (minhash_band_melt(
            reference.select(F.lit(0).alias("rid"), "text"),
            id_col="rid")
            .select("band", "bucket").distinct())
    # ONE left join carries the exact verdict (ref_h is distinct, so
    # no fanout) — a semi+anti pair would shuffle the increment's
    # text twice (measured 22.5 -> 28 s at 1M; this shape is fewer
    # joins than either). The melt then filters exact dups MAP-side:
    # recrawl-heavy increments skip the 16-minhash work entirely.
    marked = (ids.join(ref_h.withColumn("_ex", F.lit(True)),
                       "th", "left")
              # th is dead past the join — keep it out of the
              # snapshot (checkpoints store all columns physically,
              # the ivfpq lesson). Two consumers (near melt, final
              # select): checkpoint or each re-reads + re-joins.
              .drop("th")
              .localCheckpoint())
    near = (minhash_band_melt(marked.filter(F.col("_ex").isNull()),
                              id_col="url")
            .join(ref_keys, ["band", "bucket"], "left_semi")
            .select("url").distinct()
            .select("url", F.lit(True).alias("_nr")))
    status = (F.when(F.col("_ex"), "exact_dup")
              .when(F.col("_nr"), "near_dup")
              .otherwise("kept"))
    return (marked.select("url", "_ex")
            .join(near, "url", "left")
            .select("url", status.alias("status"))
            .withColumn("is_kept", F.col("status") == "kept"))


def _subdoc_decisions(corpus: DataFrame, over_fn, out_cols: list,
                      total_col: str) -> DataFrame:
    """Shared production wrapper for the corpus-global sub-document
    dedup operators (line / exact-substring): (url, text) -> one
    decision row per url with the operator's per-doc columns plus a
    status. Same conventions as dedup_decisions: a recrawled url is
    ONE decision subject resolved by min(text) (deterministic across
    resume re-derivations), doc ids are xxhash64(url) — the struct-min
    first-occurrence key accepts the full 64-bit space — and a 64-bit
    collision merges two urls into one decision subject (min(text)
    picks the text deterministically; both urls get the same row,
    never a lost row). Decisions are corpus-GLOBAL: run_job routes
    these modes through the dedup resume branch (re-derive over the
    full input, append only unwritten urls)."""
    ids, docs = _decision_subjects(corpus)
    dec = over_fn(docs)
    return (ids.join(dec, "doc_id")
            .select("url", *out_cols,
                    F.when(F.col("n_kept") < F.col(total_col),
                           "deduped").otherwise("intact")
                    .alias("status")))


def linededup_decisions(corpus: DataFrame) -> DataFrame:
    """run.py --mode linededup surface: C4 corpus-level line dedup
    (queries.line_dedup_over) under the production contract. status:
    'deduped' (lost at least one line) | 'intact'."""
    from .queries import line_dedup_over
    return _subdoc_decisions(corpus, line_dedup_over,
                             ["n_lines", "n_kept", "text_out"],
                             "n_lines")


def substrdedup_decisions(corpus: DataFrame) -> DataFrame:
    """run.py --mode substrdedup surface: exact-substring dedup
    (queries.substr_dedup_over) under the production contract.
    status: 'deduped' (lost at least one token) | 'intact'."""
    from .queries import substr_dedup_over
    return _subdoc_decisions(
        corpus, substr_dedup_over,
        ["n_tokens", "n_dup_starts", "n_kept", "text_out"],
        "n_tokens")


def semdedup_decisions(corpus: DataFrame, k: int | None = None,
                       iters: int | None = None,
                       tau: float | None = None,
                       train_frac: float | None = None,
                       nprobe: int | None = None) -> DataFrame:
    """Production surface of SemDeDup (queries.semdedup_over): (url,
    embedding array<numeric>) -> exactly one keep decision per url.
    Corpus-GLOBAL like --mode dedup (cluster training + the >tau
    connected components see every doc), so run.py's resume re-derives
    the full decision set and appends only unwritten rows.

    Graph/vector ids are xxhash64(url) (dedup_decisions' collision
    note applies: direction benign, surrogate ids at 10^12 docs). A
    url crawled twice is ONE decision subject — min(embedding)
    (arrays order lexicographically) resolves a recrawl with a
    changed vector deterministically on every derivation, the same
    rule dedup_decisions uses for min(text).

    status: 'kept' (the component representative — the member
    farthest from its cluster centroid) or 'sem_dup'."""
    from .queries import semdedup_over
    # NULL url coalesces to '' (the urlfilter/mix rule): a NULL key
    # never matches the resume anti-join, so a NULL decision row
    # would be re-derived and re-APPENDED on every resume — fatal
    # for a corpus-global mode whose contract is 'final table
    # identical to an uninterrupted run' (r6 review)
    corpus = (corpus
              .withColumn("url", F.coalesce(F.col("url"), F.lit("")))
              .groupBy("url")
              .agg(F.min("embedding").alias("embedding")))
    ids = corpus.select(F.xxhash64("url").alias("vec_id"), "url",
                        "embedding")
    vecs = ids.groupBy("vec_id").agg(
        F.min("embedding").alias("embedding"))
    kw = {key: v for key, v in (("k", k), ("iters", iters),
                                ("tau", tau),
                                ("train_frac", train_frac),
                                ("nprobe", nprobe))
          if v is not None}
    dec = semdedup_over(vecs, **kw)
    keep_urls = (ids.select(F.col("vec_id").alias("keep_id"),
                            F.col("url").alias("keep_url"))
                 .groupBy("keep_id")
                 .agg(F.min("keep_url").alias("keep_url")))
    return (ids.select("vec_id", "url")
            .join(dec, "vec_id")
            .join(keep_urls, "keep_id")
            .select("url", "c_id", "c_sim", "keep_url", "is_kept",
                    F.when(F.col("is_kept"), "kept")
                    .otherwise("sem_dup").alias("status")))


# output of the corpus writers rewrite_pdfs and append_updates
_REWRITE_DDL = ("url string, html binary, nbytes long, status string, "
                "err string")


def rewrite_pdfs(corpus: DataFrame, encrypt: str | None = None,
                 user_pw: bytes = b"", owner_pw: bytes | None = None,
                 pack: str = "classic") -> DataFrame:
    """Distributed corpus rewrite via cos/writer.py — the
    encrypt-at-rest / repackaging transform of a document pipeline:
    (url, html) -> (url, html rewritten, nbytes, status, err). Each
    row round-trips through the engine's own parser; unwritable rows
    quarantine with status='error' and NULL html (the row-level
    isolation contract), so one corrupt document never fails a task.
    Same fan-out rules as extraction apply upstream (the writer is
    CPU-bound per row)."""
    from ..cos.writer import rewrite_pdf

    def rw(url, html):
        try:
            b = rewrite_pdf(bytes(html or b""), encrypt=encrypt,
                            user_pw=user_pw, owner_pw=owner_pw, pack=pack)
            yield url, b, len(b), "ok", None
        except Exception as e:
            yield url, None, None, "error", f"{type(e).__name__}: {e}"[:500]

    return map_rows(corpus, ["url", "html"], _REWRITE_DDL, rw)


def append_updates(corpus: DataFrame, update_fn,
                   style: str = "classic") -> DataFrame:
    """Distributed incremental update via cos/writer.append_update —
    the amend-in-place transform of a document pipeline: each (url,
    html) row gains appended replacement objects + a /Prev-chained
    xref section while the ORIGINAL bytes stay a byte prefix (prior
    signatures remain verifiable over their /ByteRange; ISO 32000
    7.5.6). `update_fn(data: bytes, doc: CosDoc) -> {Ref|(num, gen):
    COS object}` decides per document what to amend — it receives
    the ALREADY-PARSED CosDoc (parsed once per row; the same object
    feeds the writer, so the xref walk never runs twice) and is
    snapshotted into the task closure at DataFrame build time (a
    module global would not reach Spark worker processes — the
    set_media_codecs lesson);
    returning {} passes the document through byte-identical with
    status='empty'. Unparseable/unwritable/encrypted rows quarantine
    with status='error' and NULL html — row-level isolation, one bad
    document never fails a task. Same fan-out rules as extraction
    apply upstream (parse + re-serialize is CPU-bound per row)."""
    from ..cos.doc import CosDoc
    from ..cos.writer import append_update
    if style not in ("classic", "xrefstm"):
        # fail fast on the driver: inside the per-row try a typo'd
        # style would quarantine the WHOLE corpus as row errors
        raise ValueError(f"unknown update style {style!r} "
                         "(classic | xrefstm)")
    fn = update_fn  # closure snapshot

    def rw(url, html):
        try:
            data = bytes(html or b"")
            doc = CosDoc(data)
            ups = fn(data, doc)
            if ups:
                b, st = append_update(data, ups, style=style, doc=doc), "ok"
            else:
                b, st = data, "empty"
            yield url, b, len(b), st, None
        except Exception as e:
            yield url, None, None, "error", f"{type(e).__name__}: {e}"[:500]

    return map_rows(corpus, ["url", "html"], _REWRITE_DDL, rw)


def info_stamp(entries: dict) -> "callable":
    """update_fn factory for append_updates: replace the trailer
    /Info dictionary with a copy carrying `entries` (str keys ->
    str/bytes values, stored as literal strings) — the canonical
    provenance stamp ('this corpus was processed by run X') that
    leaves every original byte, including signed ranges, intact.
    Documents whose /Info is absent or inline in the trailer (not an
    indirect ref — amendable only by rewriting the trailer itself)
    are skipped via {}."""
    from ..cos.objects import LitStr, Name, Ref

    def fn(data: bytes, doc) -> dict:
        tr = doc.trailer
        info_ref = tr.get(Name("Info")) if tr else None
        if not isinstance(info_ref, Ref):
            return {}
        info = doc.get_object(info_ref)
        if not isinstance(info, dict):
            return {}
        new = dict(info)
        for k, v in entries.items():
            new[Name(k)] = LitStr(v.encode() if isinstance(v, str)
                                  else bytes(v))
        return {info_ref: new}

    return fn


def validate_signatures_over(corpus: DataFrame,
                             trust_pems: "list[bytes] | None" = None,
                             crl_blobs: "list[bytes] | None" = None,
                             ocsp_ders: "list[bytes] | None" = None,
                             export_certs: bool = False) -> DataFrame:
    """Corpus-scale signature audit (SURVEY X11 as a production
    operator): (url, html) -> one row PER SIGNATURE with
    passed/subfilter/signer/m/err, plus 'nosig' rows for unsigned
    documents and 'error' quarantine rows for unparseable ones — the
    same row-level isolation contract as extraction. Trust anchors and
    revocation material are passed as RAW BYTES (PEM certs, PEM/DER
    CRLs, DER OCSP responses) and snapshotted into the task closure —
    the set_trust_roots/set_revocation_* setters are PROCESS-LOCAL and
    never reach executors (the set_media_codecs lesson); None falls
    through to each executor's $PDFIO_SPARK_* env lookup, the
    documented spark.executorEnv path. All blobs are parsed once on
    the driver to fail fast on malformed input (a bad CRL must raise
    here, not quarantine a corpus as row errors) and once per task,
    never per row. export_certs=True adds a certs_pem array column
    (the reference writes <pdf>.pem files, PDDoc.jl:548-559;
    executors must not write local files, so the PEM text rides in
    the row)."""
    from ..pd.pagetree import PDDoc
    from ..pd.signature import (TrustStore, _load_crls, _load_ocsps,
                                validate_signatures)
    if trust_pems is not None:
        TrustStore.from_pems(list(trust_pems))  # driver fail-fast
    if crl_blobs is not None:
        _load_crls(list(crl_blobs))
    if ocsp_ders is not None:
        _load_ocsps(list(ocsp_ders))
    t_pems = None if trust_pems is None else [bytes(b) for b in trust_pems]
    c_blobs = None if crl_blobs is None else [bytes(b) for b in crl_blobs]
    o_ders = None if ocsp_ders is None else [bytes(b) for b in ocsp_ders]

    material = []  # parsed once per task: the parsed forms do not pickle

    def row(url, i=None, sub=None, passed=None, signer=None, m=None,
            err=None, status="ok", certs=None):
        r = (url, i, sub, passed, signer, m, err, status)
        return r + (certs,) if export_certs else r

    def sigs(url, html):
        if not material:
            material.append((
                None if t_pems is None else TrustStore.from_pems(t_pems),
                None if c_blobs is None else _load_crls(c_blobs),
                None if o_ders is None else _load_ocsps(o_ders)))
        trust, crls, ocsps = material[0]
        try:
            data = bytes(html or b"")
            sts = validate_signatures(PDDoc(data), data, trust=trust,
                                      crls=crls, ocsp=ocsps,
                                      export_certs=export_certs)
            if not sts:
                yield row(url, status="nosig")
            for i, st in enumerate(sts):
                yield row(url, i, st["subfilter"], bool(st["passed"]),
                          st["signer"], st["m"], st["error"],
                          certs=[c["pem"] for c in st["certs"]]
                          if export_certs and "certs" in st else None)
        except Exception as e:
            yield row(url, err=f"{type(e).__name__}: {e}"[:500],
                      status="error")

    ddl = ("url string, sig_index int, subfilter string, passed boolean, "
           "signer string, m string, err string, status string")
    if export_certs:
        ddl += ", certs_pem array<string>"
    return map_rows(corpus, ["url", "html"], ddl, sigs)


#: reason tags quality_decisions can emit — the filter mode's metrics
#: hold one counter per tag, so the two stay in one place
QUALITY_REASONS = ("too_few_words", "too_many_words", "punct_ratio",
                   "low_stopword_ratio", "lang", "dup_words",
                   "repetition")


def quality_decisions(corpus: DataFrame,
                      min_words: int = 50,
                      max_words: int = 100_000,
                      max_punct_ratio: float = 0.2,
                      min_stop_ratio: float = 0.01,
                      langs: tuple = ("en",),
                      max_dup_word_frac: float = 0.3,
                      max_top_bigram_frac: float = 0.18) -> DataFrame:
    """The Gopher/C4-style quality gate of a training-data pipeline:
    (url, text) -> per-doc keep decision with machine-readable
    REASONS, composed from the SAME oracle-verified expression sets
    the registry pins (queries.text_metrics_cols +
    queries.repetition_metric_cols — the shared-kernel rule, so the
    production gate and the driver-checked queries agree by
    construction). Thresholds are the Rae et al. Gopher defaults
    adapted to the available metrics; every one is a keyword so a
    pipeline tunes per corpus.

    Entirely row-local JVM expressions: no UDF, no shuffle — at
    100 TB this is a map-only stage that runs at scan speed.
    status: 'kept' | 'dropped' (run_job by_status contract); reasons
    is [] when kept, every tripped rule's tag otherwise
    (QUALITY_REASONS)."""
    from .queries import (repetition_metric_cols, repetition_words_col,
                          text_metrics_cols)
    if isinstance(langs, str):
        # a bare "en" would otherwise unpack into isin('e', 'n') and
        # silently drop EVERY doc with reason 'lang' (r6 review)
        langs = (langs,)
    m = (corpus.select("url", "text", repetition_words_col())
         .select("url", *text_metrics_cols(),
                 *repetition_metric_cols()))
    # one condition per QUALITY_REASONS tag, looked up BY the constant
    # (a drifted tag raises KeyError here instead of leaving its
    # metrics counter permanently 0 — r6 review)
    conds = {
        "too_few_words": F.col("n_words") < min_words,
        "too_many_words": F.col("n_words") > max_words,
        "punct_ratio": F.col("punct_ratio") > max_punct_ratio,
        "low_stopword_ratio": F.col("stop_ratio") < min_stop_ratio,
        "lang": ~F.col("pred_lang").isin(*langs),
        "dup_words": F.col("dup_word_frac") > max_dup_word_frac,
        "repetition": F.col("top_bigram_frac") > max_top_bigram_frac,
    }
    if set(conds) != set(QUALITY_REASONS):
        raise AssertionError("quality rule set drifted from "
                             "QUALITY_REASONS")
    reasons = F.array_compact(F.array(
        *[F.when(conds[t], F.lit(t)) for t in QUALITY_REASONS]))
    return (m.withColumn("reasons", reasons)
            .withColumn("status", F.when(F.size("reasons") == 0,
                                         "kept").otherwise("dropped")))


#: PII categories scrubbed by pii_scrub_over, in APPLICATION ORDER —
#: email first (its local part may contain digit runs), SSN before
#: phone (a 3-2-4 digit group is a legal phone tail), IPv4 before
#: phone (dotted quads overlap separator-form numbers)
PII_CATEGORIES = ("email", "ssn", "ipv4", "phone")

_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ssn": r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)",
    # trailing guard is (?!\.?\d), not (?![\d.]): a 5th dotted group
    # (version string 1.2.3.4.5) still blocks, but a sentence-final
    # period after the quad ('from 10.1.2.3.') no longer does
    "ipv4": r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?!\.?\d)",
    # separator or parens form required: a bare 10-digit integer is
    # more often an id/timestamp than a phone number — scrubbing is
    # deliberately conservative on that ambiguity (documented choice)
    "phone": (r"(?<![\d(])(?:\+\d{1,2}[ .\-]?)?"
              r"(?:\(\d{3}\)[ .\-]?|\d{3}[ .\-])"
              r"\d{3}[ .\-]\d{4}(?!\d)"),
}


def pii_scrub_over(corpus: DataFrame) -> DataFrame:
    """PII redaction pass of a training-data pipeline: (url, text) ->
    text with emails / SSN-style ids / IPv4 addresses / phone numbers
    replaced by <EMAIL>/<SSN>/<IPV4>/<PHONE> placeholders, plus one
    occurrence counter per category. Entirely row-local JVM regexes
    (regexp_extract_all for the count, regexp_replace for the
    rewrite) — at 100 TB a map-only stage at scan speed, no UDF, no
    shuffle. Categories apply in PII_CATEGORIES order; each counter
    is taken on the text state its replace sees, so overlapping
    matches are counted exactly once by the category that consumed
    them. No reference counterpart; inter-document plane.

    status: 'scrubbed' (>=1 replacement) | 'clean' — the run_job
    by_status contract."""
    out = corpus.select(
        "url", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    for cat in PII_CATEGORIES:
        pat = _PII_PATTERNS[cat]
        out = (out
               .withColumn(f"n_{cat}",
                           F.size(F.regexp_extract_all(
                               "text", F.lit(pat), F.lit(0))))
               .withColumn("text", F.regexp_replace(
                   "text", pat, f"<{cat.upper()}>")))
    n_pii = None
    for cat in PII_CATEGORIES:
        c = F.col(f"n_{cat}")
        n_pii = c if n_pii is None else n_pii + c
    return (out.withColumn("n_pii", n_pii)
            .withColumn("status", F.when(F.col("n_pii") > 0, "scrubbed")
                        .otherwise("clean")))


#: second-level public suffixes the registrable-domain heuristic
#: recognizes under the last label (the full Public Suffix List is
#: ~9k rules; these cover the common ccTLD second levels — a
#: documented approximation: a deployment needing exact PSL semantics
#: matches at the host level via the blocklist's own entries)
_SLD_SUFFIXES = (
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "co.nz", "co.jp", "ne.jp", "or.jp",
    "co.in", "co.kr", "com.br", "com.mx", "com.cn", "com.tw",
    "com.sg", "co.za", "com.ar", "com.tr")

URL_REASONS = ("bad_scheme", "no_host", "url_too_long",
               "blocked_domain", "blocked_token")


def url_parse_cols(url: str = "url") -> list:
    """Expression set deriving (scheme, host, domain, url_norm) from
    a URL column — all row-local JVM regex/array exprs, no UDF. ONE
    kernel shared by url_filter_decisions and the streaming twin.

    - scheme: lowercased; '' when the value has no '<scheme>://'.
    - host: lowercased authority host, userinfo and port stripped;
      bracketed IPv6 literals kept whole ('[::1]').
    - domain: registrable domain — last two labels, or last three
      when the last two are a known second-level suffix
      (_SLD_SUFFIXES); IPv4 literal hosts pass through unchanged.
    - url_norm: canonical form for URL-keyed dedup — fragment
      stripped, scheme+authority lowercased, default :80/:443 port
      dropped, dangling '?' removed. Path/query case is preserved
      (servers may be case-sensitive there)."""
    u = F.col(url)
    scheme = F.lower(F.regexp_extract(
        u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    # trailing root-label dot stripped: 'www.example.com.' is
    # DNS-equivalent to the undotted form and would otherwise defeat
    # both the blocklist and the registrable-domain split (r6 review)
    host = F.regexp_replace(F.lower(F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#]*@)?"
           r"(\[[^\]]*\]|[^/:?#]*)", 1)), r"\.$", "")
    labels = F.split(host, r"\.")
    nl = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    last3 = F.concat_ws(".", F.element_at(labels, -3),
                        F.element_at(labels, -2),
                        F.element_at(labels, -1))
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    domain = (F.when(is_ip | (nl <= 2), host)
              .when(last2.isin(*_SLD_SUFFIXES), last3)
              .otherwise(last2))
    # authority prefix (scheme://user@host:port): scheme and
    # host:port lowercase, USERINFO verbatim (credentials are
    # case-sensitive), default port dropped; the rest of the URL
    # rides along unchanged minus fragment and a dangling '?'
    prefix = F.regexp_extract(
        u, r"^([A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#]*@)?[^/?#]*)", 1)
    userinfo = F.regexp_extract(prefix, r"^[^:]+://([^/?#]*@)", 1)
    hostport = F.lower(F.regexp_extract(
        prefix, r"^[^:]+://(?:[^/?#]*@)?([^/?#]*)$", 1))
    # same trailing-dot canonicalization in the normalized key, so
    # 'example.com.' and 'example.com' dedup to one resource
    hostport = F.regexp_replace(hostport, r"\.(:\d*)?$", "$1")
    hostport = (F.when(scheme == "http",
                       F.regexp_replace(hostport, ":80$", ""))
                .when(scheme == "https",
                      F.regexp_replace(hostport, ":443$", ""))
                .otherwise(hostport))
    plow = F.concat(scheme, F.lit("://"), userinfo, hostport)
    rest = F.substr(u, F.length(prefix) + F.lit(1))
    rest = F.regexp_replace(F.regexp_replace(rest, "#.*$", ""),
                            r"\?$", "")
    url_norm = F.when(scheme == "", u).otherwise(F.concat(plow, rest))
    return [scheme.alias("scheme"), host.alias("host"),
            domain.alias("domain"), url_norm.alias("url_norm")]


def url_filter_decisions(corpus: DataFrame,
                         blocked_domains=None,
                         blocked_tokens: tuple = (),
                         allowed_schemes: tuple = ("http", "https"),
                         max_url_len: int = 2048) -> DataFrame:
    """The URL gate of a training-data pipeline (C4 §2.1 / RefinedWeb
    §3.1 shape): (url, ...) -> per-doc keep decision BEFORE any byte
    of content is fetched or parsed — the cheapest filter in the
    chain, so it runs first. Emits the url_parse_cols derivation plus
    machine-readable reasons (URL_REASONS) and status
    'kept'|'dropped' (the run_job by_status contract).

    blocked_domains: a list/tuple of entries OR a 1-column DataFrame
    (a million-entry UT1-style blocklist belongs in a table, not an
    argv literal). An entry blocks a doc when it equals the HOST
    exactly or equals the REGISTRABLE DOMAIN (so 'example.com' blocks
    every subdomain of example.com, while 'ads.example.com' blocks
    only that host — deeper-suffix wildcarding is NOT implied).
    blocked_tokens: lowercase substrings matched against the whole
    lowercased URL (the C4 bad-words-in-URL rule); keep this list
    small — it compiles into the row expression.

    Scale shape: the token/scheme/length rules are row-local JVM
    exprs; the blocklist is TWO broadcast hash equi-joins (host key,
    domain key) against the deduped entry table — map-only end to
    end, no shuffle of the corpus, at 100 TB it runs at scan speed.
    An OR-of-equalities join condition would degrade to a broadcast
    nested-loop — hence two joins. No reference counterpart;
    inter-document plane."""
    if isinstance(blocked_domains, (list, tuple, set)):
        spark = corpus.sparkSession
        ents = sorted({str(d).lower() for d in blocked_domains})
        blocked_domains = spark.createDataFrame(
            [(e,) for e in ents], "entry string") if ents else None
    # a NULL url must DROP, not slide through as kept-with-NULL-rules
    # (every condition would be SQL NULL -> array_compact -> []); it
    # coalesces to '' so the scheme/host rules fire AND the resume
    # anti-join key is stable (r6 review)
    m = (corpus.select(F.coalesce(F.col("url"), F.lit(""))
                       .alias("url"))
         .select("url", *url_parse_cols()))
    if blocked_domains is None:
        hit_host = hit_dom = F.lit(False)
    else:
        bl = (blocked_domains
              .select(F.lower(F.col(blocked_domains.columns[0]))
                      .alias("entry")).distinct())
        m = (m.join(F.broadcast(bl.withColumnRenamed(
                "entry", "_bl_host")),
                on=F.col("host") == F.col("_bl_host"), how="left")
             .join(F.broadcast(bl.withColumnRenamed(
                 "entry", "_bl_dom")),
                 on=F.col("domain") == F.col("_bl_dom"), how="left"))
        hit_host = F.col("_bl_host").isNotNull()
        hit_dom = F.col("_bl_dom").isNotNull()
    toks = [str(t).lower() for t in blocked_tokens]
    tok_hit = F.exists(
        F.array(*[F.lit(t) for t in toks]),
        lambda t: F.contains(F.lower(F.col("url")), t)
    ) if toks else F.lit(False)
    conds = {
        "bad_scheme": ~F.col("scheme").isin(*allowed_schemes),
        "no_host": F.col("host") == "",
        "url_too_long": F.length("url") > max_url_len,
        "blocked_domain": hit_host | hit_dom,
        "blocked_token": tok_hit,
    }
    if set(conds) != set(URL_REASONS):
        raise AssertionError("url rule set drifted from URL_REASONS")
    reasons = F.array_compact(F.array(
        *[F.when(conds[t], F.lit(t)) for t in URL_REASONS]))
    return (m.withColumn("reasons", reasons)
            .withColumn("status", F.when(F.size("reasons") == 0,
                                         "kept").otherwise("dropped"))
            .select("url", "scheme", "host", "domain", "url_norm",
                    "reasons", "status"))


def urldedup_decisions(corpus: DataFrame) -> DataFrame:
    """URL-canonical dedup (run.py --mode urldedup): the C4-style
    crawl step that collapses recrawls of the SAME RESOURCE before
    any content work — two urls that normalize identically
    (url_parse_cols' url_norm: fragment stripped, scheme/authority
    lowercased, default port dropped, trailing root-dot removed) are
    one document; the lexicographically smallest raw url keeps.
    Cheapest member of the dedup family — one groupBy-min on the
    normalized key, no content read at all — so it runs FIRST, ahead
    of even the URL gate in the daily recipe.

    Corpus-GLOBAL (the keeper depends on every other url): run.py's
    resume re-derives the decision set and appends only unwritten
    rows, like --mode dedup. A NULL url coalesces to '' (the
    standing rule). status: 'kept' | 'url_dup'."""
    from pyspark.sql import Window
    corpus = (corpus
              .withColumn("url", F.coalesce(F.col("url"), F.lit("")))
              .dropDuplicates(["url"]))
    m = (corpus.select("url", *url_parse_cols())
         .select("url", "url_norm"))
    # window min instead of groupBy+self-join: ONE scan + ONE shuffle
    # (the join form re-ran the scan and the url_parse_cols regexes on
    # both sides — the r4 self-join lesson). Groups are tiny recrawl
    # sets, so the per-key window carries no skew risk.
    keep_url = F.min("url").over(Window.partitionBy("url_norm"))
    return (m.withColumn("keep_url", keep_url)
            .select("url", "url_norm", "keep_url",
                    (F.col("url") == F.col("keep_url"))
                    .alias("is_kept"),
                    F.when(F.col("url") == F.col("keep_url"), "kept")
                    .otherwise("url_dup").alias("status")))


def mix_decisions(corpus: DataFrame, weights=None,
                  default_rate: float = 1.0,
                  seed: int = 0,
                  key_col: str = "domain") -> DataFrame:
    """Data-mixture sampling — the per-source weighting step of
    pretraining corpus assembly (Gao et al., 'The Pile', §1: per-set
    epoch counts; Brown et al., GPT-3 Table 2.2: datasets sampled at
    different rates). One decision per input row with a
    DETERMINISTIC copy count, so downsampling, passthrough, and
    epoch-style upsampling are one rule:

        n_copies = floor(rate) + (u < frac(rate))
        u = pmod(xxhash64(url, seed), 1e6) / 1e6

    `weights`: {key: rate} dict or a 2-column (key, rate) DataFrame —
    a rate is the EXPECTED copies per doc (0.3 downsamples to 30%,
    1.0 passes, 2.5 upsamples to 2 or 3). Unlisted keys get
    `default_rate`. Changing `seed` redraws the fractional coin
    corpus-wide. `key_col` picks what the weights key on: 'domain'
    (default — the registrable domain derived from the url via
    url_parse_cols) or ANY column present in `corpus` — e.g. `lang`
    for language-weighted mixes or a `source` tag for The
    Pile-style per-set epochs; matching is lowercased either way,
    and a NULL key falls through to `default_rate`. The output
    carries the key under the `key_col` name.

    Scale shape: url_parse_cols derivation + one broadcast equi-join
    on the registrable domain + row-local hash arithmetic — map-only,
    scan speed at 100 TB, doc-local (resume works per url; input is
    assumed url-unique like the other doc-local gates). A NULL or
    empty url drops, and NULL is coalesced to '' in the output (the
    urlfilter rule — a NULL key could never resume: the anti-join
    never matches it). status: 'dropped' (0) / 'kept' (1) /
    'upsampled' (>1); mix_apply materializes the copies. No
    reference counterpart; inter-document plane."""
    if key_col in ("url", "rate", "n_copies", "status"):
        # a reserved name would collide with the decision columns —
        # duplicate-field weights schema / silently replaced key —
        # and only fail deep in the plan (r6 review)
        raise ValueError(f"key_col {key_col!r} collides with a "
                         "decision output column")
    if weights is not None:
        # BOTH forms normalize through the same driver-side path (the
        # weights table is broadcast-small by contract, so collecting
        # the DataFrame form is free): without this, a DataFrame
        # entry 'Wikipedia.org' silently never matched the lowercased
        # domain column, a negative DataFrame rate produced
        # n_copies=-1 rows labeled 'upsampled', and two case-
        # colliding dict keys made the broadcast join emit TWO
        # decision rows per url (r6 review x3).
        items = (list(weights.items()) if isinstance(weights, dict)
                 else [(r[0], r[1]) for r in weights.collect()])
        ents = sorted((str(k).lower(), float(v)) for k, v in items)
        bad = [k for k, v in ents if v < 0]
        if bad:
            raise ValueError(f"negative mix rate for {bad}")
        dd: dict = {}
        for k, v in ents:
            if k in dd and dd[k] != v:
                raise ValueError(
                    f"conflicting mix rates for {key_col} {k!r}: "
                    f"{dd[k]} vs {v} (entries collide after "
                    "lowercasing)")
            dd[k] = v
        weights = (corpus.sparkSession.createDataFrame(
            sorted(dd.items()), f"{key_col} string, rate double")
            if dd else None)
    if float(default_rate) < 0:
        raise ValueError("negative default_rate")
    corpus = corpus.withColumn("url",
                               F.coalesce(F.col("url"), F.lit("")))
    if key_col == "domain":
        parsed = (corpus.select("url", *url_parse_cols())
                  .select("url", "domain"))
    else:
        parsed = corpus.select(
            "url", F.lower(F.col(key_col).cast("string"))
            .alias(key_col))
    if weights is not None:
        parsed = parsed.join(F.broadcast(weights), key_col, "left")
    else:
        parsed = parsed.withColumn("rate", F.lit(None).cast("double"))
    rate = F.coalesce(F.col("rate"), F.lit(float(default_rate)))
    u = (F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(1_000_000))
         / F.lit(1_000_000.0))
    ncop = F.when(F.col("url") == "", F.lit(0)).otherwise(
        F.floor(rate).cast("int")
        + F.when(u < rate - F.floor(rate), 1).otherwise(0))
    return parsed.select(
        "url", key_col, rate.alias("rate"),
        ncop.alias("n_copies"),
        F.when(ncop == 0, "dropped").when(ncop == 1, "kept")
        .otherwise("upsampled").alias("status"))


def mix_apply(corpus: DataFrame, decisions: DataFrame) -> DataFrame:
    """Materialize mix_decisions: each input row appears n_copies
    times with a `copy` index (0-based) — the index keeps replicated
    rows distinguishable so a downstream shuffle/shard key can hash
    (url, copy) and spread epochs across shards instead of
    colocating them. Join strategy left to Spark: both sides are
    corpus-sized. Zero-copy rows are filtered BEFORE the explode:
    sequence(0, n-1) with n=0 generates the DESCENDING [0, -1], not
    an empty array — Spark's start>stop semantics."""
    dec = (decisions.filter(F.col("n_copies") > 0)
           .select("url", "n_copies"))
    return (corpus.join(dec, "url")
            .withColumn("copy", F.explode(
                F.sequence(F.lit(0), F.col("n_copies") - 1)))
            .drop("n_copies"))


def shard_export(corpus: DataFrame, output_path: str,
                 n_shards: int, seed: int = 0,
                 key_cols=("url",), mode: str = "error") -> None:
    """Terminal writer of a training-data pipeline: deterministic
    pseudo-random global shuffle into exactly `n_shards` shard
    directories (shard=N/ parquet), each internally ordered — the
    'shuffle and shard' step every pretraining corpus assembly ends
    with, so sequential shard reads see an i.i.d.-like document
    stream instead of crawl order.

    Shard membership is a PURE ROW FUNCTION: h = xxhash64(*key_cols,
    seed), shard = pmod(h, n_shards), within-shard order (h,
    key_cols). Pure-function assignment (vs repartitionByRange's
    sample-derived boundaries) means the placement of every row is
    recomputable from the row alone — re-runs are byte-stable and an
    auditor can locate any document without scanning. Balance is
    binomial (uniform hash), so skew-free by construction; choose
    n_shards for a few GB per shard at the target corpus size.
    After epoch upsampling, pass key_cols=("url", "copy") —
    mix_apply's copy index — so a document's epochs spread across
    shards instead of colocating.

    Plan shape: ONE full shuffle (a global permutation IS a shuffle,
    there is nothing to elide) + map-side sortWithinPartitions; every
    row of a shard lands in one task, so partitionBy writes exactly
    one sorted file per shard directory. The shuffle routes on a
    driver-computed TOKEN per shard, not the shard id itself:
    repartition(n, shard) hashes shard ids murmur3 % n — balls-into-
    bins leaves ~1/e of tasks empty and stragglers carrying several
    shards (measured: 16 shards -> 10 tasks, max 2/task, i.e. 2x the
    balanced wall clock at exactly the terminal shuffle — at
    production shard sizes a multi-shard straggler costs minutes).
    The token search is pure driver Python (_shard_route /
    _mmh3_int — no Spark job, no pass over the corpus;
    repartitionByRange's sampler would re-scan it) finding an int
    per residue class of murmur3 % n, projected in as a literal
    lookup so every shard gets its own task. NOT a run.py mode: the output is the
    permuted corpus itself, and a partial write cannot be resumed by
    url anti-join (an interrupted export must be re-run; `mode`
    passes through to the parquet writer). No reference counterpart;
    inter-document plane."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    keys = [F.col(c) for c in key_cols]
    h = F.xxhash64(*keys, F.lit(seed))
    df = (corpus.withColumn("sort_key", h)
          .withColumn("shard",
                      F.pmod(F.col("sort_key"), F.lit(n_shards))
                      .cast("int")))
    toks = _shard_route(n_shards)
    if n_shards <= 4096:
        # token lookup as ONE projection expression — no extra stage
        route = F.element_at(
            F.array(*[F.lit(toks[s]).cast("int")
                      for s in range(n_shards)]),
            F.col("shard") + 1)
        df = df.withColumn("_route", route)
    else:
        # a 10^4+-element array literal is the giant-expr-tree shape
        # codegen falls over on (the unrolled-dot lesson) — broadcast
        # the lookup instead
        route_tbl = corpus.sparkSession.createDataFrame(
            sorted(toks.items()), "shard int, _route int")
        df = df.join(F.broadcast(route_tbl), "shard")
    (df.repartition(n_shards, F.col("_route"))
       .drop("_route")
       .sortWithinPartitions("shard", "sort_key", *key_cols)
       .write.partitionBy("shard").mode(mode).parquet(output_path))


def _mmh3_int(i: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32, matching Spark's Murmur3Hash
    expression (F.hash) on an IntegerType column bit-for-bit (seed
    42, 4-byte block, len-4 finalizer) — pinned against F.hash over
    [-500, 500) in the shard_export test. Pure Python so the shard
    route needs NO Spark job."""
    c1, c2 = 0xcc9e2d51, 0x1b873593
    k = (i & 0xffffffff) * c1 & 0xffffffff
    k = ((k << 15) | (k >> 17)) & 0xffffffff
    k = k * c2 & 0xffffffff
    h = (seed ^ k) & 0xffffffff
    h = ((h << 13) | (h >> 19)) & 0xffffffff
    h = (h * 5 + 0xe6546b64) & 0xffffffff
    h ^= 4
    h ^= h >> 16
    h = h * 0x85ebca6b & 0xffffffff
    h ^= h >> 13
    h = h * 0xc2b2ae35 & 0xffffffff
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _shard_route(n_shards: int) -> dict:
    """{shard: token} where pmod(murmur3(token), n_shards) == shard —
    HashPartitioning's partition-id expression is exactly
    pmod(Murmur3Hash(cols, 42), n), so routing the exchange on the
    token puts shard s in partition s: one task per shard, no
    balls-into-bins collisions (repartition on the raw shard id
    leaves ~1/e of tasks empty and stragglers holding several
    shards). Residues of consecutive ints are uniform, so the scan
    terminates in ~n ln n steps."""
    toks: dict = {}
    t = 0
    while len(toks) < n_shards:
        toks.setdefault(_mmh3_int(t) % n_shards, t)
        t += 1
    return toks


_CAP_DEFAULT = object()  # sentinel: distinguishes omitted from None


def domain_cap_limits(max_per_domain=_CAP_DEFAULT,
                      max_tokens_per_domain=None) -> tuple:
    """The domaincap options -> (doc cap, token budget), either None
    for no limit: the one rule set of the batch op and its streaming
    twin."""
    if max_per_domain is _CAP_DEFAULT:
        # the doc-cap default applies only when NO cap was chosen at
        # all: a caller setting just the token budget must not get a
        # 100k doc cap silently composed in (r6 review — every
        # token-only caller had to know to pass max_per_domain=None)
        max_per_domain = (None if max_tokens_per_domain is not None
                          else 100_000)
    if max_per_domain is None and max_tokens_per_domain is None:
        raise ValueError("at least one of max_per_domain / "
                         "max_tokens_per_domain must be set")
    # a mis-signed limit would silently drop every document
    if max_per_domain is not None and max_per_domain < 0:
        raise ValueError("max_per_domain must be >= 0")
    if max_tokens_per_domain is not None and max_tokens_per_domain < 0:
        raise ValueError("max_tokens_per_domain must be >= 0")
    return max_per_domain, max_tokens_per_domain


def domain_cap_decisions(corpus: DataFrame,
                         max_per_domain=_CAP_DEFAULT,
                         max_tokens_per_domain: int | None = None
                         ) -> DataFrame:
    """Per-domain document cap (the RefinedWeb/C4 curation rule: no
    single site may dominate the corpus): keep at most max_per_domain
    docs per registrable domain, chosen DETERMINISTICALLY by unsigned
    xxhash64(url) order (url tie-break) so reruns and crash-resume
    over the SAME input snapshot derive the identical keep set (docs
    appended between runs can displace earlier winners — run_job's
    corpus-global resume audits and warns on that). (url, ...) -> one row per doc with
    domain, domain_rank and status 'kept'|'dropped' (reasons
    ['domain_cap'] — the run_job by_status contract). Run the URL
    gate first: undecidable urls all share domain '' and would cap
    as one pseudo-site.

    Scale shape — the hot-domain hazard is the whole problem (a
    10^7-doc domain under a naive row_number() over (partition by
    domain) lands on ONE task): the global per-domain rank decomposes
    exactly, the q_skew_diagnosis idiom. Bucket = top 10 bits of the
    UNSIGNED hash — monotone in unsigned order, and within a bucket
    the sign bit is fixed so SIGNED comparison equals unsigned —
    giving rank = (count in lower buckets) + (row_number within
    bucket). The histogram groupBy and the within-bucket window both
    key on (domain, bucket), so a hot domain spreads over 1024 tasks;
    the only per-domain-global step is a cumsum over its <=1024
    histogram rows. The histogram join back is co-partitioned with
    the window's shuffle. No reference counterpart; inter-document
    plane.

    `max_tokens_per_domain` (late r6) caps by TOKEN MASS instead of
    (or in addition to) doc count — budgets are allocated in tokens,
    not documents. Same decomposition with a weighted histogram
    (sum of ws_tokens per (domain, bucket)) and a within-bucket
    running token sum: a doc keeps while the tokens accumulated
    BEFORE it (in the same deterministic hash order) are below the
    budget, so the budget overshoots by at most the crossing doc.
    Token count is text_metrics_cols' ws_tokens — the oracle-verified
    definition (whitespace split; an empty text counts 1, its
    convention). Requires a `text` column; reasons gains
    'domain_token_cap'."""
    from pyspark.sql import Window
    max_per_domain, max_tokens_per_domain = domain_cap_limits(
        max_per_domain, max_tokens_per_domain)
    token_mode = max_tokens_per_domain is not None
    cols = [F.coalesce(F.col("url"), F.lit("")).alias("url")]
    if token_mode:
        from .queries import ws_tokens_expr
        cols.append(ws_tokens_expr().cast("long").alias("w"))
    keep_cols = ["url", "domain", F.xxhash64("url").alias("h")] + \
        (["w"] if token_mode else [])
    m = (corpus.select(*cols)
         .select("url", *url_parse_cols(),
                 *(["w"] if token_mode else []))
         .select(*keep_cols)
         .withColumn("ub", F.shiftrightunsigned("h", 54))
         # histogram side and window side both descend from this
         # projection: without the checkpoint each would re-scan the
         # input and re-run the URL regexes + hash (the r4
         # checkpoint-before-self-join lesson); the snapshot is 4-5
         # narrow columns
         .localCheckpoint())
    aggs = [F.count("*").alias("cnt")]
    if token_mode:
        aggs.append(F.sum("w").alias("cnt_w"))
    hist = m.groupBy("domain", "ub").agg(*aggs)
    wd = (Window.partitionBy("domain").orderBy("ub")
          .rowsBetween(Window.unboundedPreceding, -1))
    base_cols = ["domain", "ub",
                 F.coalesce(F.sum("cnt").over(wd), F.lit(0))
                 .alias("base")]
    if token_mode:
        base_cols.append(F.coalesce(F.sum("cnt_w").over(wd),
                                    F.lit(0)).alias("base_w"))
    bucket_base = hist.select(*base_cols)
    wb = Window.partitionBy("domain", "ub").orderBy("h", "url")
    ranked = (m.withColumn("rk", F.row_number().over(wb))
              .join(bucket_base, ["domain", "ub"])
              .withColumn("domain_rank",
                          (F.col("base") + F.col("rk")).cast("long")))
    reasons = []
    if max_per_domain is not None:
        reasons.append((F.col("domain_rank") > max_per_domain,
                        "domain_cap"))
    if token_mode:
        # tokens accumulated before this doc, same (h, url) order:
        # lower buckets' mass + the running sum within the bucket
        wtb = (Window.partitionBy("domain", "ub").orderBy("h", "url")
               .rowsBetween(Window.unboundedPreceding, -1))
        ranked = ranked.withColumn(
            "domain_tokens_before",
            (F.col("base_w")
             + F.coalesce(F.sum("w").over(wtb), F.lit(0)))
            .cast("long"))
        reasons.append((F.col("domain_tokens_before")
                        >= max_tokens_per_domain, "domain_token_cap"))
    reason_arr = F.filter(
        F.array(*[F.when(cond, F.lit(tag)) for cond, tag in reasons]),
        lambda x: x.isNotNull())
    out_cols = ["url", "domain", "domain_rank"] + \
        (["domain_tokens_before"] if token_mode else []) + \
        ["reasons", "status"]
    return (ranked
            .withColumn("reasons", reason_arr)
            .withColumn("status",
                        F.when(F.size("reasons") > 0, "dropped")
                        .otherwise("kept"))
            .select(*out_cols))


#: tokens per decontamination gram — the GPT-3 Appendix C choice
#: (13-gram overlap against evaluation sets)
DECONTAM_K = 13


def decontam_decisions(corpus: DataFrame, benchmark,
                       k: int = DECONTAM_K,
                       min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 Appendix C; Lee
    et al. 2022 §6.2): drop training docs sharing any k-token span
    with an evaluation set, so benchmark numbers measure
    generalization instead of memorization. (url, text) + benchmark
    -> one row per doc with n_contam_grams (distinct shared grams),
    n_contam_spans (independent contaminated spans — overlapping/
    adjacent hits merged, the quantity min_hits thresholds) and
    status 'kept'|'dropped' (the run_job by_status contract; reasons
    ['contaminated'] when dropped, for the metrics shape shared with
    the other gates). Text is whitespace-normalized on BOTH sides
    before hashing (unlike ExactSubstr dedup, whose positions must
    index the raw token array).

    benchmark: a DataFrame with a `text` column (one row per eval
    example) or a list of strings. Eval sets are small — their
    distinct gram table broadcasts.

    Scale shape: BOTH sides reuse queries.substr_gram_melt (one md5
    per token position — the dedup kernel, so both features hash a
    token window identically; decontam only adds the normalization
    pass upstream of it).
    The corpus melt joins the broadcast benchmark-gram set map-side;
    only the HITS (rare by construction) reach the groupBy, and the
    hit table joins back to the corpus on url. No corpus shuffle
    besides that hit join; at 100 TB the stage is scan + broadcast
    probe. No reference counterpart; inter-document plane.

    Streaming: no dedicated twin — the decision is DOC-LOCAL (doc +
    static benchmark; no cross-doc state), so per-micro-batch
    application is already globally correct: wrap this operator in
    foreachBatch. A direct writeStream twin would need the hit-count
    aggregate plus a post-aggregate join in one append-mode plan,
    which Structured Streaming rejects without watermark gymnastics
    that buy nothing here."""
    from .queries import substr_gram_melt
    if isinstance(benchmark, (list, tuple)):
        benchmark = corpus.sparkSession.createDataFrame(
            [(t,) for t in benchmark], "text string")

    # whitespace-normalize BOTH sides before hashing (GPT-3 App. C
    # normalizes first): extracted corpus text is full of line
    # breaks, and a shared 13-gram crossing one would otherwise hash
    # differently and pass the gate (r6 review). ExactSubstr dedup
    # deliberately does NOT normalize — its positions must index the
    # original token array for reassembly.
    def _norm(df):
        return df.withColumn(
            "text", F.btrim(F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")),
                r"\s+", " ")))

    bgrams = (substr_gram_melt(_norm(
        benchmark.select(F.monotonically_increasing_id()
                         .alias("doc_id"),
                         "text")), k)
        .select("g").distinct())
    melt = substr_gram_melt(_norm(
        corpus.select(F.col("url").alias("doc_id"), "text")), k)
    # min_hits counts INDEPENDENT contaminated spans: hit positions
    # within k of each other merge gaps-and-islands style (one
    # 14-token shared span = two overlapping 13-grams = ONE span;
    # the raw gram count would satisfy min_hits=2 on it alone — r6
    # review). Hits are rare by construction, so the per-doc window
    # runs over a tiny table. n_contam_grams = distinct shared grams,
    # kept as the evidence column.
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (melt.join(F.broadcast(bgrams), "g")
           .withColumn("brk",
                       F.when(F.col("pos") >
                              F.lag("pos").over(w) + k, 1)
                       .otherwise(0))
           .withColumn("island", F.sum("brk").over(w)))
    hits = (isl.groupBy("doc_id")
            .agg(F.count_distinct("g").alias("n_contam_grams"),
                 (F.max("island") + 1).cast("long")
                 .alias("n_contam_spans"))
            .withColumnRenamed("doc_id", "url"))
    out = (corpus.select("url", "text")
           .join(hits, "url", "left")
           .withColumn("n_contam_grams",
                       F.coalesce("n_contam_grams", F.lit(0)))
           .withColumn("n_contam_spans",
                       F.coalesce("n_contam_spans", F.lit(0))))
    dropped = F.col("n_contam_spans") >= min_hits
    return (out
            .withColumn("reasons",
                        F.when(dropped,
                               F.array(F.lit("contaminated")))
                        .otherwise(F.array().cast("array<string>")))
            .withColumn("status", F.when(dropped, "dropped")
                        .otherwise("kept")))


def resume_filter(corpus: DataFrame, done_urls: DataFrame) -> DataFrame:
    """Exactly-once resume: drop rows whose url is already in the
    completed-output manifest (left_anti join — broadcast when small)."""
    return corpus.join(done_urls.select("url"), on="url", how="left_anti")
