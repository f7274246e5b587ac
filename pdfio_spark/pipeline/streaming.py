"""Structured Streaming ingestion — the continuous-crawl mode.

The reference is a batch library; the north rule's resumability is
covered by the checkpoint/anti-join plane (job.py). This module adds
the genuinely streaming variant for crawl-as-it-arrives deployments:

    readStream(file source of (url, html) parquet)
      -> extract_in_place (extraction UDF)   [same kernel as batch]
      -> writeStream(parquet sink, checkpointed, exactly-once)

plus a watermarked windowed metrics stream (late-data tolerant), the
standard Structured Streaming shapes (SURVEY §2.12 streaming).

Every run.py mode with a streaming form starts through one call,
stream_stage(spark, mode, ...): its source schema is the mode's STAGES
column declaration (the columns the batch scan prunes to, all of which
the input must hold), its options are validated by the same run.bind
as run_job's, and its micro-batch op is the STAGES op unless
_STREAM_OPS names another. There the corpus-global domaincap,
linededup and substrdedup have their stateful twins: GroupState
counters and seen-sets that decide in arrival order. stream_dedup and
stream_neardup (url and MinHash-band seen-sets) have no STAGES row and
keep their own signatures.
"""
from __future__ import annotations

from functools import partial

from pyspark.sql import SparkSession, functions as F

from .job import (domain_cap_limits, extract_in_place, url_parse_cols,
                  validate_signatures_over)
from .run import STAGES, bind

__all__ = ["stream_stage", "stream_metrics", "stream_dedup",
           "stream_neardup", "neardup_keep_decisions",
           "stream_shard_export"]


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
                partition_by=None):
    """readStream of `schema` -> op -> parquet sink."""
    return _sink(op(_source(spark, input_dir, schema)), output_dir,
                 checkpoint_dir, available_now, partition_by)


def _fanned(op):
    """`op` after spreading each micro-batch over every core: a
    CPU-bound UDF would otherwise run one task per file of the trigger
    (maxFilesPerTrigger), the batch path's perf lesson."""
    def run(src, **kw):
        return op(src.repartition(
            src.sparkSession.sparkContext.defaultParallelism), **kw)
    return run


def stream_stage(spark: SparkSession, mode: str, input_dir: str,
                 checkpoint_dir: str, output_dir: str,
                 opts: dict | None = None, available_now: bool = True):
    """Streaming twin of `run.py --mode <mode>`: file-source stream of
    the mode's scan columns -> its op per micro-batch -> parquet sink,
    exactly-once via the streaming checkpoint; resume is free (restart
    with the same checkpoint dir). `opts` are validated by run.bind, as
    run_job's are. A doc-local mode without side inputs runs its
    STAGES op, a stateless map that is globally correct per
    micro-batch (a DataFrame option such as a urlfilter blocklist must
    be a BATCH DataFrame; it is broadcast per micro-batch); domaincap,
    linededup and substrdedup run their stateful twins (_STREAM_OPS).

    Returns the StreamingQuery (already started)."""
    from pyspark.sql.utils import AnalysisException

    stage = STAGES.get(mode)
    if stage is not None and (stage.prep or stage.corpus_global
                              and mode not in _STREAM_OPS):
        raise ValueError(
            f"mode={mode!r} does not stream through stream_stage: its "
            "decisions are corpus-global with no stateful twin here "
            "(url and near-dup seen-sets stream through stream_dedup "
            "and stream_neardup) or need a side input (run its op per "
            "micro-batch through foreachBatch)")
    stage, _, kw = bind(spark, mode, opts)
    fields = stage.fields(kw)
    try:
        have = spark.read.parquet(input_dir).columns
    except AnalysisException:
        have = None  # no file has landed yet: nothing to check
    # readStream.schema would project a missing column as NULL and the
    # op would run silently wrong (a mix key rates every doc by
    # default_rate, a token budget counts '' as 1 token); the batch
    # scan fails loudly — match it
    if have is not None and (missing := [
            f for f in fields if f.split(" ", 1)[0] not in have]):
        raise ValueError(f"mode={mode!r} needs {missing} in {input_dir}")
    return _stream_map(spark, input_dir, checkpoint_dir, output_dir,
                       available_now, ", ".join(fields),
                       partial(_STREAM_OPS.get(mode, stage.op), **kw))


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


def _stateful(df, by: str, fn, out: str, state: str):
    """`df` grouped by `by` through the GroupState function `fn`:
    `out` and `state` are the DDL of its emitted rows and of its
    per-key state. No timeout: state lives as long as the checkpoint."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    return df.groupBy(by).applyInPandasWithState(
        fn, outputStructType=out, stateStructType=state,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)


def _domain_cap(src, **opts):
    """domaincap's stateful twin: one GroupState counter per
    registrable domain; a doc keeps while its domain's running count
    is under the cap — ARRIVAL-order semantics (the stream_dedup
    convention), not the batch operator's deterministic hash order:
    the streaming cap admits the first N to arrive, the batch cap
    admits the hash-smallest N. Emits (url, domain, kept). The options
    resolve through job.domain_cap_limits, as the batch op's do. State
    is one (count, tokens) pair per domain — growth is O(distinct
    domains), no TTL needed at web scale (~10^8 domains is a few GB
    across the state store).

    The token budget (late r6): a doc keeps while the domain's tokens
    BEFORE it (arrival order) are under the budget; the token weight
    is the shared ws_tokens_expr kernel computed JVM-side before the
    stateful op, so the pandas fn only cumsums."""
    from .queries import ws_tokens_expr

    cap, budget = domain_cap_limits(**opts)
    token_mode = budget is not None
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
                    # domain rank <= cap, the batch rule
                    ok &= (c + np.arange(1, n + 1)) <= cap
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

    return _stateful(m, "domain", decide_fn,
                     "url string, domain string, kept boolean",
                     "cnt long, tok long" if token_mode else "cnt long")


def _first_seen(keyed, by: str, out: str):
    """`keyed` through a corpus-global first-occurrence seen-set: per
    `by` key, the lexicographic (doc_id, pos) min of the key's FIRST
    batch gets kept=true, every other arrival (same batch or later)
    kept=false. `out` is the DDL of the emitted rows (must include
    doc_id/pos/kept). Shared by the line twin (key = md5(line)) and
    the substring twin (key = md5(k-gram)) so both decide identically
    by construction.

    Memory shape: a hot boilerplate key (nav line / ToS gram shared
    by every doc) can land its whole batch-wide group under this one
    key — never concat the group: stream chunks, holding back only
    the current (doc_id, pos)-min candidate row (an encoded bigint
    key would overflow for xxhash64 ids, the queries._okey note).
    The state update happens before the generator is consumed."""
    import pandas as pd
    cols = [f.split(" ", 1)[0] for f in out.split(", ")]

    def decide_fn(key, pdf_iter, state):
        fresh = not state.exists
        if fresh:
            state.update((1,))

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

    return _stateful(keyed, by, decide_fn, out, "seen int")


def _doc_ids(src):
    # (url, text) -> (doc_id, text) under the batch ops' id,
    # xxhash64(url) (job._decision_subjects): one batch holding the
    # whole corpus then decides exactly what the batch op decides
    return src.select(F.xxhash64("url").alias("doc_id"), "text")


def _line_dedup(src):
    """linededup's stateful twin (C4 corpus-level line dedup): every
    NON-BLANK line is checked against a corpus-global seen-set — one
    GroupState per md5(line) — and only its first arrival keeps
    kept=true. Blank lines bypass the stateful operator entirely
    (always kept, and a seen-set entry per structural blank would be
    pure state bloat). Within one micro-batch the winner is the min
    (doc_id, pos) key; across batches it is arrival order, the same
    semantics stream_dedup documents for urls.

    Emits one row PER LINE (doc_id, pos, line, kept); reassemble docs
    with queries.line_dedup_reassemble over the sink — the same
    kernel the batch operator ends with. State growth is O(distinct
    non-blank lines)."""
    from .queries import _WS_CHARS

    lines = _doc_ids(src).select(
        "doc_id",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")),
                             "\n")).alias("pos", "line"))
    is_blank = F.btrim(F.col("line"), F.lit(_WS_CHARS)) == ""
    blank = (lines.filter(is_blank)
             .withColumn("kept", F.lit(True)))
    keyed = (lines.filter(~is_blank)
             .withColumn("k", F.md5("line")))
    decided = _first_seen(keyed, "k",
                          "doc_id long, pos int, line string, "
                          "kept boolean")
    return blank.select("doc_id", "pos", "line", "kept") \
        .unionByName(decided)


def _substr_dedup(src):
    """substrdedup's stateful twin (Lee et al. 2022 ExactSubstr):
    every GRAM_K-token gram (queries.substr_gram_melt — the SAME md5
    kernel as batch) is checked against a corpus-global seen-set, one
    GroupState per gram hash, and only its first arrival keeps
    kept=true. Within one micro-batch the winner is the min
    (doc_id, pos) key; across batches it is arrival order, the
    stream_dedup semantics. Unlike the line twin, arrival order also
    moves the kept TOKEN total slightly: which copy of two
    OVERLAPPING grams survives changes that doc's interval gaps. The
    order-independent invariant is one kept row per distinct gram
    (pinned by the soak); token counts are exact only single-batch.

    Emits one row PER GRAM START (doc_id, pos, kept); rebuild docs by
    feeding the sink's kept=false rows as `dup` into
    queries.substr_dedup_reassemble beside the (xxhash64(url), text)
    corpus — the same gaps-and-islands kernel the batch operator ends
    with. State growth is O(distinct grams) (32-byte keys). Docs
    shorter than GRAM_K tokens produce no rows here and pass through
    reassembly untouched."""
    from .queries import substr_gram_melt
    return _first_seen(substr_gram_melt(_doc_ids(src)), "g",
                       "doc_id long, pos int, kept boolean")


# the micro-batch op where it differs from the STAGES op. pdf runs
# extract_in_place without the heavy-tail split: Structured Streaming
# runs without AQE, so the tail exchange would start
# spark.sql.shuffle.partitions Python tasks in every micro-batch (the
# empty-task cost the batch path shed). Both are CPU-bound per row
# (parse; CMS parse + verify), so both fan out: 3,550 -> 6,501 docs/s
# for pdf on the 100k streaming soak, the rest of the gap to batch
# being per-micro-batch scheduling. The corpus-global modes stream
# through their stateful twins.
_STREAM_OPS = {"pdf": _fanned(extract_in_place),
               "sigaudit": _fanned(validate_signatures_over),
               "domaincap": _domain_cap, "linededup": _line_dedup,
               "substrdedup": _substr_dedup}


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
