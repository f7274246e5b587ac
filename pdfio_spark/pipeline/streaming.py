"""Structured Streaming ingestion — the continuous-crawl mode.

The reference is a batch library; the north rule's resumability is
covered by the checkpoint/anti-join plane (job.py). This module adds
the genuinely streaming variant for crawl-as-it-arrives deployments:

    readStream(file source of (url, html) parquet)
      -> mapInArrow(extraction UDF)          [same kernel as batch]
      -> writeStream(parquet sink, checkpointed, exactly-once)

plus a watermarked windowed metrics stream (late-data tolerant), the
standard Structured Streaming shapes (SURVEY §2.12 streaming).

Each stateless twin of a run.py mode is one _stream_map call whose
source schema is that mode's STAGES column declaration (the columns
the batch scan prunes to); the stateful twins keep their GroupState
functions and share _ttl and _sink.
"""
from __future__ import annotations

from functools import partial

from pyspark.sql import SparkSession, functions as F

from .html_extract import extract_html
from .job import (_EXTRACT_DDL, _extract_batches, annotate_wat,
                  annotate_wet, mix_decisions, pii_scrub_over,
                  quality_decisions, url_filter_decisions,
                  validate_signatures_over)
from .run import STAGES

__all__ = ["stream_extract", "stream_extract_html", "stream_metrics",
           "stream_dedup", "stream_neardup", "neardup_keep_decisions",
           "stream_ingest_wet", "stream_ingest_wat", "stream_sigaudit",
           "stream_quality_filter", "stream_url_filter", "stream_mix",
           "stream_pii_scrub", "stream_shard_export",
           "stream_domain_cap", "stream_line_dedup",
           "stream_substr_dedup"]


def _schema(mode: str, opts=None) -> str:
    """The run.py stage's scan columns as a stream source schema."""
    return ", ".join(STAGES[mode].fields(opts))


def _source(spark, input_dir: str, schema: str, max_files=8):
    src = spark.readStream.schema(schema)
    if max_files:
        src = src.option("maxFilesPerTrigger", max_files)
    return src.parquet(input_dir)


def _sink(df, output_dir: str, checkpoint_dir: str,
          available_now: bool = True, partition_by=None):
    """Append to a checkpointed parquet sink: exactly-once, resume by
    restarting with the same checkpoint dir."""
    writer = df.writeStream.format("parquet")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer = (writer.option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _stream_map(spark, input_dir: str, checkpoint_dir: str,
                output_dir: str, available_now: bool, schema: str, op,
                fan_out: bool = False, partition_by=None):
    """The stateless twin: readStream of `schema` -> op -> parquet sink.
    fan_out spreads each micro-batch over every core — for CPU-bound
    UDF ops, whose file-source partitioning is maxFilesPerTrigger tasks
    (the batch path's perf lesson)."""
    src = _source(spark, input_dir, schema)
    if fan_out:
        src = src.repartition(spark.sparkContext.defaultParallelism)
    return _sink(op(src), output_dir, checkpoint_dir, available_now,
                 partition_by)


def _ttl(state_ttl_hours):
    """state_ttl_hours -> (timeout ms or None, the GroupState
    timeoutConf that goes with it)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    if state_ttl_hours is None:
        return None, GroupStateTimeout.NoTimeout
    return (max(1, int(state_ttl_hours * 3600 * 1000)),
            GroupStateTimeout.ProcessingTimeTimeout)


def stream_dedup(spark: SparkSession, input_dir: str, checkpoint_dir: str,
                 output_dir: str, state_ttl_hours: int | None = None):
    """Custom stateful streaming operator via applyInPandasWithState:
    exactly-once URL dedup across micro-batches — the streaming twin of
    the batch resume anti-join. State = one GroupState per url; only the
    first arrival is emitted, replays and duplicates are dropped.

    State growth is O(distinct urls): unbounded crawls must bound it.
    state_ttl_hours sets a processing-time timeout per key — an expired
    url re-admits one row (at-least-once dedup within the TTL window),
    the standard tradeoff for infinite keyspaces. Production also runs
    the RocksDB state store (spark.sql.streaming.stateStore
    .providerClass=...RocksDBStateStoreProvider) so state spills off
    heap; default None keeps exactly-once semantics for bounded
    keyspaces."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    src = _source(spark, input_dir,
                  "url string, html binary, nbytes long", max_files=None)
    ttl_ms, timeout = _ttl(state_ttl_hours)

    def dedup_fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        if state.exists:
            # already emitted this url — but MUST re-arm the timeout:
            # Spark removes a GroupState timeout on every invocation
            # that does not set it again, so without this a duplicate
            # arrival would cancel the TTL and the key would live
            # forever (exactly the hot keys dedup exists for)
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return iter(())
        first = None
        for pdf in pdf_iter:
            if len(pdf) and first is None:
                first = pdf.iloc[:1]
        if first is None:
            return iter(())
        state.update((1,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        return iter([pd.DataFrame({"url": [key[0]],
                                   "nbytes": [int(first["nbytes"].iloc[0])]})])

    deduped = (src.groupBy("url").applyInPandasWithState(
        dedup_fn,
        outputStructType="url string, nbytes long",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=timeout))
    return _sink(deduped, output_dir, checkpoint_dir)


def stream_neardup(spark: SparkSession, input_dir: str,
                   checkpoint_dir: str, output_dir: str,
                   state_ttl_hours: int | None = None):
    """Stateful streaming NEAR-dup stage (r5): stream_dedup's seen-set
    extended from exact urls to MinHash band keys. Each arriving
    (url, text) computes its 4 LSH band buckets row-locally (the shared
    minhash_band_melt kernel — batch and stream near-dup keys MUST
    agree), explodes to one row per (band, bucket), and a GroupState
    per band bucket remembers the first url that claimed it
    (TTL-bounded exactly like stream_dedup; state is 4 keys x ~1 url
    per distinct doc). Every arrival emits (url, band, bucket, keeper);
    keeper == url marks a fresh claim. A doc is a near-dup iff any of
    its bands hit a bucket kept by ANOTHER url — fold flag rows into
    per-doc decisions with neardup_keep_decisions(). Docs under 3
    words have no shingles; they take a STATELESS branch emitting one
    self-claim row (band = -1) so every input doc gets a keep decision
    (r5 review: they used to vanish from the sink entirely).

    Within one micro-batch the claimant of a fresh bucket is the
    lexicographically smallest url in the batch (deterministic);
    across batches/restarts the checkpoint makes first-wins exact."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState
    from .queries import minhash_band_melt

    src = _source(spark, input_dir, "url string, text string",
                  max_files=None)
    melted = minhash_band_melt(src, id_col="url")
    words = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+")
    short = (src.filter(F.size(words) < 3)
             .select("url", F.lit(-1).alias("band"),
                     F.xxhash64("url").alias("bucket"),
                     F.col("url").alias("keeper")))
    ttl_ms, timeout = _ttl(state_ttl_hours)

    def flag_fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        urls = sorted({u for pdf in pdf_iter for u in pdf["url"]})
        if not urls:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return iter(())
        if state.exists:
            keeper = state.get[0]
        else:
            keeper = urls[0]
            state.update((keeper,))
        if ttl_ms is not None:
            # re-arm on EVERY invocation — Spark drops an un-set timeout
            # (the stream_dedup r4 lesson)
            state.setTimeoutDuration(ttl_ms)
        return iter([pd.DataFrame({
            "url": urls,
            "band": [int(key[0])] * len(urls),
            "bucket": [int(key[1])] * len(urls),
            "keeper": [keeper] * len(urls)})])

    flags = (melted.groupBy("band", "bucket").applyInPandasWithState(
        flag_fn,
        outputStructType="url string, band int, bucket long, "
                         "keeper string",
        stateStructType="keeper string",
        outputMode="append",
        timeoutConf=timeout))
    return _sink(flags.unionByName(short), output_dir, checkpoint_dir)


def neardup_keep_decisions(spark: SparkSession, flags_dir: str):
    """Fold stream_neardup's flag rows into one decision per url:
    keep = no band hit a bucket kept by another url; dup_of = the
    smallest such keeper otherwise. Exactly-once of the flag sink
    (streaming checkpoint) makes decisions stable across restarts."""
    flags = spark.read.parquet(flags_dir)
    other = F.when(F.col("keeper") != F.col("url"), F.col("keeper"))
    return (flags.groupBy("url")
            .agg(F.min(other).alias("dup_of"))
            .select("url", F.col("dup_of").isNull().alias("keep"),
                    "dup_of"))


def stream_extract(spark: SparkSession, input_dir: str,
                   checkpoint_dir: str, output_dir: str,
                   available_now: bool = True):
    """File-source stream of (url, html[, nbytes]) parquet -> extraction
    -> parquet sink. Exactly-once via the streaming checkpoint; resume
    is free (restart with the same checkpoint dir).

    Returns the StreamingQuery (already started)."""
    # fan out: measured on the 100k streaming soak, 3,550 -> 6,501
    # docs/s; the rest of the gap to batch is per-micro-batch scheduling
    return _stream_map(
        spark, input_dir, checkpoint_dir, output_dir, available_now,
        _schema("pdf"),
        lambda src: src.mapInArrow(_extract_batches, _EXTRACT_DDL),
        fan_out=True)


def stream_extract_html(spark: SparkSession, input_dir: str,
                        checkpoint_dir: str, output_dir: str,
                        available_now: bool = True):
    """Streaming twin of run.py --mode html: file-source stream of
    (url, html) web pages -> boilerplate strip -> parquet sink,
    exactly-once via the streaming checkpoint."""
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("html"), extract_html)


def stream_ingest_wet(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, output_dir: str,
                      available_now: bool = True):
    """Streaming twin of run.py --mode wet: file-source stream of
    (url, text) pre-extracted pages -> the oracled analytics
    annotation (job.annotate_wet's expression set; stateless, so no
    GroupState) -> parquet sink, exactly-once via the checkpoint."""
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("wet"), annotate_wet)


def stream_ingest_wat(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, output_dir: str,
                      available_now: bool = True):
    """Streaming twin of run.py --mode wat: file-source stream of
    (url, metadata map, nbytes) crawl-metadata rows -> typed
    selection columns (job.annotate_wat's expression set; stateless)
    -> parquet sink, exactly-once via the checkpoint."""
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("wat"), annotate_wat)


def stream_quality_filter(spark: SparkSession, input_dir: str,
                          checkpoint_dir: str, output_dir: str,
                          available_now: bool = True, **thresholds):
    """Streaming twin of run.py --mode filter: file-source stream of
    (url, text) docs -> per-doc keep decisions with reason tags
    (job.quality_decisions — stateless JVM expressions, no fan-out
    needed: this runs at scan speed) -> parquet sink, exactly-once
    via the checkpoint. `thresholds` pass through (min_words=...,
    langs=..., etc.)."""
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("filter"),
                       partial(quality_decisions, **thresholds))


def stream_url_filter(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, output_dir: str,
                      available_now: bool = True, **url_opts):
    """Streaming twin of run.py --mode urlfilter: file-source stream
    of docs -> per-URL keep decisions with reason tags
    (job.url_filter_decisions — row-local JVM exprs plus two
    broadcast blocklist joins, no fan-out needed: runs at scan
    speed) -> parquet sink, exactly-once via the checkpoint.
    `url_opts` pass through (blocked_domains=..., blocked_tokens=...,
    etc.); a DataFrame blocklist must be a BATCH DataFrame (it is
    broadcast per micro-batch)."""
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("urlfilter"),
                       partial(url_filter_decisions, **url_opts))


def stream_mix(spark: SparkSession, input_dir: str,
               checkpoint_dir: str, output_dir: str,
               available_now: bool = True, **mix_opts):
    """Streaming twin of run.py --mode mix: the decision is doc-local
    (a deterministic hash of the url), so the stateless map per
    micro-batch IS globally correct — same rationale as the urlfilter
    twin; a dict `weights` is broadcast per micro-batch."""
    key = mix_opts.get("key_col", "domain")
    if key != "domain" and \
            key not in spark.read.parquet(input_dir).columns:
        # a missing/misnamed key column would project as NULL, every
        # doc falls through to default_rate and the mix is silently a
        # no-op; the batch path fails loudly — match it (the
        # stream_domain_cap text rule, r6 review)
        raise ValueError(f"key_col {key!r} not in {input_dir}")
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("mix", mix_opts),
                       partial(mix_decisions, **mix_opts))


def stream_shard_export(spark: SparkSession, input_dir: str,
                        checkpoint_dir: str, output_dir: str,
                        n_shards: int, seed: int = 0,
                        schema: str = "url string, text string",
                        key_cols=("url",), available_now: bool = True):
    """Streaming twin of job.shard_export — continuous ingestion into
    training shard directories. Shard membership is a PURE ROW
    FUNCTION (pmod(xxhash64(keys, seed), n)), so the stateless map is
    globally correct and a row lands in the same shard=N/ directory
    as the batch writer would place it. SEMANTIC DELTA vs batch
    (documented, inherent): each micro-batch appends its OWN files to
    the shard dirs — one-sorted-file-per-shard and the within-shard
    global sort_key order hold only per batch; a training reader of a
    streamed shard orders by sort_key at read time (the column is in
    every row). Exactly-once via the checkpoint."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    keys = [F.col(c) for c in key_cols]

    def shard(src):
        return (src.withColumn("sort_key",
                               F.xxhash64(*keys, F.lit(seed)))
                .withColumn("shard",
                            F.pmod(F.col("sort_key"), F.lit(n_shards))
                            .cast("int")))

    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, schema, shard, partition_by="shard")


def stream_domain_cap(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, output_dir: str,
                      max_per_domain=None,
                      max_tokens_per_domain: int | None = None):
    """Streaming twin of run.py --mode domaincap: one GroupState
    counter per registrable domain; a doc keeps while its domain's
    running count is below max_per_domain — ARRIVAL-order semantics
    (the stream_dedup convention), not the batch operator's
    deterministic hash order: the streaming cap admits the first N
    to arrive, the batch cap admits the hash-smallest N. Emits
    (url, domain, kept). State is one (count, tokens) pair per
    domain — growth is O(distinct domains), no TTL needed at web
    scale (~10^8 domains is a few GB across the state store).

    max_tokens_per_domain mirrors the batch token budget (late r6):
    a doc keeps while the domain's tokens BEFORE it (arrival order)
    are under the budget; the token weight is the shared
    ws_tokens_expr kernel computed JVM-side before the stateful op,
    so the pandas fn only cumsums. The omitted-doc-cap default
    resolves like the batch sentinel: token-only when a token budget
    is given, 100k docs otherwise."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from .job import url_parse_cols
    from .queries import ws_tokens_expr

    token_mode = max_tokens_per_domain is not None
    if max_per_domain is None:
        max_per_domain = None if token_mode else 100_000
    cap = None if max_per_domain is None else int(max_per_domain)
    budget = (None if max_tokens_per_domain is None
              else int(max_tokens_per_domain))
    if cap is not None and cap < 0:
        # mirror the batch guard: a mis-signed cap would otherwise
        # silently mark every document kept=false forever
        raise ValueError("max_per_domain must be >= 0")
    if budget is not None and budget < 0:
        raise ValueError("max_tokens_per_domain must be >= 0")
    if token_mode:
        # fail fast on a text-less source: readStream.schema would
        # project the missing column as NULL and ws_tokens_expr
        # counts '' as 1 token — a token budget silently becomes a
        # doc cap (r6 review). The batch path fails loudly; match it.
        if "text" not in spark.read.parquet(input_dir).columns:
            raise ValueError("max_tokens_per_domain needs a `text` "
                             f"column in {input_dir}")
    src = _source(spark, input_dir, _schema(
        "domaincap", {"max_tokens_per_domain": max_tokens_per_domain}))
    wcols = ([ws_tokens_expr().cast("long").alias("w")]
             if token_mode else [])
    m = (src.select(F.coalesce(F.col("url"), F.lit(""))
                    .alias("url"), *wcols)
         .select("url", *url_parse_cols(),
                 *(["w"] if token_mode else []))
         .select("url", "domain", *(["w"] if token_mode else [])))

    def decide_fn(key, pdf_iter, state):
        # doc-only mode keeps the ORIGINAL one-field state schema:
        # adding the token field unconditionally would reject every
        # pre-existing checkpoint at restart (state schema
        # compatibility check) — the token field exists only for the
        # NEW mode, which has no old checkpoints (r6 review)
        if token_mode:
            c, t = tuple(state.get) if state.exists else (0, 0)
        else:
            c, t = (state.get[0] if state.exists else 0), 0
        cols = ["url", "domain", "kept"]

        def gen():
            nonlocal c, t
            import numpy as np
            for pdf in pdf_iter:
                n = len(pdf)
                if not n:
                    continue
                pdf = pdf.copy()
                ok = np.ones(n, dtype=bool)
                if cap is not None:
                    ok &= (c + np.arange(n)) < cap
                if budget is not None:
                    w = pdf["w"].to_numpy()
                    before = t + np.concatenate(
                        ([0], np.cumsum(w)[:-1]))
                    ok &= before < budget
                    t += int(w.sum())
                pdf["kept"] = ok
                c += n
                yield pdf[cols]
            state.update((c, t) if token_mode else (c,))

        return gen()

    decided = m.groupBy("domain").applyInPandasWithState(
        decide_fn,
        outputStructType="url string, domain string, kept boolean",
        stateStructType=("cnt long, tok long" if token_mode
                         else "cnt long"),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)
    return _sink(decided, output_dir, checkpoint_dir)


def _first_seen_state_fn(cols, ttl_ms):
    """applyInPandasWithState function for a corpus-global
    first-occurrence seen-set: per grouping key, the lexicographic
    (doc_id, pos) min of the key's FIRST batch gets kept=true, every
    other arrival (same batch or later) kept=false. `cols` is the
    output column order (must include doc_id/pos/kept). Shared by
    stream_line_dedup (key = md5(line)) and stream_substr_dedup
    (key = md5(k-gram)) so both twins decide identically by
    construction.

    Memory shape: a hot boilerplate key (nav line / ToS gram shared
    by every doc) can land its whole batch-wide group under this one
    key — never concat the group: stream chunks, holding back only
    the current (doc_id, pos)-min candidate row (an encoded bigint
    key would overflow for xxhash64 ids, the queries._okey note).
    State ops happen before the generator is consumed; the TTL
    re-arms every invocation (GroupState drops timeouts not set
    again)."""
    import pandas as pd

    def decide_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        fresh = not state.exists
        if fresh:
            state.update((1,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

        def gen():
            cand = None  # one-row frame: current first-occurrence
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                pdf = pdf.copy()
                pdf["kept"] = False
                if fresh:
                    i = pdf.sort_values(["doc_id", "pos"]).index[0]
                    row = pdf.loc[[i]]
                    pdf = pdf.drop(index=i)
                    if cand is None:
                        cand = row
                    elif ((row.iloc[0]["doc_id"], row.iloc[0]["pos"])
                          < (cand.iloc[0]["doc_id"],
                             cand.iloc[0]["pos"])):
                        pdf = pd.concat([pdf, cand],
                                        ignore_index=True)
                        cand = row
                    else:
                        pdf = pd.concat([pdf, row],
                                        ignore_index=True)
                if len(pdf):
                    yield pdf[cols]
            if cand is not None:
                won = cand.copy()
                won["kept"] = True
                yield won[cols]

        return gen()

    return decide_fn


def stream_line_dedup(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, output_dir: str,
                      state_ttl_hours: int | None = None):
    """Streaming twin of line_dedup_over (C4 corpus-level line
    dedup): docs arrive as (doc_id, text); every NON-BLANK line is
    checked against a corpus-global seen-set — one GroupState per
    md5(line) — and only its first arrival keeps kept=true. Blank
    lines bypass the stateful operator entirely (always kept, and a
    seen-set entry per structural blank would be pure state bloat).
    Within one micro-batch the winner is the min (doc_id, pos) key —
    deterministic and identical to the batch operator when the whole
    corpus lands in one batch; across batches it is arrival order,
    the same semantics stream_dedup documents for urls.

    Emits one row PER LINE (doc_id, pos, line, kept); reassemble docs
    with queries.line_dedup_reassemble over the sink — the same
    kernel the batch operator ends with. State growth is O(distinct
    non-blank lines); state_ttl_hours bounds it for unbounded crawls
    (an expired line re-admits one copy, the stream_dedup tradeoff).
    NOTE (CLAUDE.md invariant): availableNow + ProcessingTimeTimeout
    never self-terminates — tests with a TTL must stop() the query."""
    from .queries import _WS_CHARS

    src = _source(spark, input_dir, "doc_id long, text string")
    lines = src.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")),
                             "\n")).alias("pos", "line"))
    is_blank = F.btrim(F.col("line"), F.lit(_WS_CHARS)) == ""
    blank = (lines.filter(is_blank)
             .withColumn("kept", F.lit(True)))
    keyed = (lines.filter(~is_blank)
             .withColumn("k", F.md5("line")))
    ttl_ms, timeout = _ttl(state_ttl_hours)

    decided = keyed.groupBy("k").applyInPandasWithState(
        _first_seen_state_fn(["doc_id", "pos", "line", "kept"],
                             ttl_ms),
        outputStructType="doc_id long, pos int, line string, "
                         "kept boolean",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=timeout)
    out = blank.select("doc_id", "pos", "line", "kept") \
        .unionByName(decided)
    return _sink(out, output_dir, checkpoint_dir)


def stream_substr_dedup(spark: SparkSession, input_dir: str,
                        checkpoint_dir: str, output_dir: str,
                        k: int | None = None,
                        state_ttl_hours: int | None = None):
    """Streaming twin of substr_dedup_over (Lee et al. 2022
    ExactSubstr): docs arrive as (doc_id, text); every k-token gram
    (queries.substr_gram_melt — the SAME md5 kernel as batch) is
    checked against a corpus-global seen-set, one GroupState per gram
    hash, and only its first arrival keeps kept=true. Within one
    micro-batch the winner is the min (doc_id, pos) key —
    deterministic and identical to the batch operator when the whole
    corpus lands in one batch; across batches it is arrival order,
    the stream_dedup semantics. Unlike the line twin, arrival order
    also moves the kept TOKEN total slightly: which copy of two
    OVERLAPPING grams survives changes that doc's interval gaps. The
    order-independent invariant is one kept row per distinct gram
    (pinned by the soak); token counts are exact only single-batch.

    Emits one row PER GRAM START (doc_id, pos, kept); rebuild docs by
    feeding the sink's kept=false rows as `dup` into
    queries.substr_dedup_reassemble beside the original corpus — the
    same gaps-and-islands kernel the batch operator ends with. State
    growth is O(distinct grams) (32-byte keys; at crawl scale bound
    it with state_ttl_hours — an expired gram re-admits one copy,
    the stream_dedup tradeoff). Docs shorter than k tokens produce
    no rows here and pass through reassembly untouched.
    NOTE (CLAUDE.md invariant): availableNow + ProcessingTimeTimeout
    never self-terminates — tests with a TTL must stop() the query."""
    from .queries import GRAM_K, substr_gram_melt

    src = _source(spark, input_dir, "doc_id long, text string")
    grams = substr_gram_melt(src, k or GRAM_K)
    ttl_ms, timeout = _ttl(state_ttl_hours)
    decided = grams.groupBy("g").applyInPandasWithState(
        _first_seen_state_fn(["doc_id", "pos", "kept"], ttl_ms),
        outputStructType="doc_id long, pos int, kept boolean",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=timeout)
    return _sink(decided, output_dir, checkpoint_dir)


def stream_pii_scrub(spark: SparkSession, input_dir: str,
                     checkpoint_dir: str, output_dir: str,
                     available_now: bool = True):
    """Streaming twin of run.py --mode pii: file-source stream of
    (url, text) docs -> PII-redacted text + per-category counters
    (job.pii_scrub_over — stateless JVM regexes, runs at scan speed,
    no fan-out needed) -> parquet sink, exactly-once via the
    checkpoint."""
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, _schema("pii"), pii_scrub_over)


def stream_sigaudit(spark: SparkSession, input_dir: str,
                    checkpoint_dir: str, output_dir: str,
                    trust_pems=None, crl_blobs=None, ocsp_ders=None,
                    available_now: bool = True):
    """Streaming twin of run.py --mode sigaudit: file-source stream
    of (url, html) documents -> per-signature audit rows
    (job.validate_signatures_over — trust/CRL/OCSP bytes snapshotted
    into the task closure at plan build time, the only way driver
    material reaches executors) -> parquet sink, exactly-once via the
    checkpoint. CMS parse + verify is CPU-bound per row, so each
    micro-batch fans out across every core (the stream_extract
    lesson)."""
    return _stream_map(
        spark, input_dir, checkpoint_dir, output_dir, available_now,
        _schema("sigaudit"),
        partial(validate_signatures_over, trust_pems=trust_pems,
                crl_blobs=crl_blobs, ocsp_ders=ocsp_ders),
        fan_out=True)


def stream_metrics(spark: SparkSession, input_dir: str,
                   checkpoint_dir: str,
                   window: str = "1 minute",
                   watermark: str = "5 minutes"):
    """Watermarked windowed counts over a stream of extraction events
    (ts, status, nbytes): the late-data-tolerant metrics rollup.
    Sinks to an in-memory table named 'stream_metrics'.

    outputMode is UPDATE (r4 fix): with 'complete', Spark ignores the
    watermark entirely — no aggregation state is ever evicted and late
    data is never dropped, so the TTL contract was not what actually
    ran. Update mode emits changed groups per trigger and lets the
    watermark evict finalized windows; a sink consumer upserts by
    (window, status) — for the memory-sink demo that means taking the
    LAST emission per key."""
    src = _source(spark, input_dir,
                  "ts timestamp, status string, nbytes long", max_files=None)
    agg = (src.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), "status")
           .agg(F.count("*").alias("n_docs"),
                F.sum("nbytes").alias("sum_bytes")))
    return (agg.writeStream
            .format("memory")
            .queryName("stream_metrics")
            .outputMode("update")
            .trigger(availableNow=True)
            .start())
