"""Source connectors beyond parquet: raw PDF directories (binaryFile
data source) and Common-Crawl-style WARC archives.

The reference reads single files from disk (`pdDocOpen(path)`,
src/PDDoc.jl); at corpus scale the equivalents are:

  read_pdf_dir  — spark.read.format("binaryFile") over a directory
                  tree -> (url, html, nbytes). Spark's binaryFile
                  source handles partitioning, pushdown of
                  pathGlobFilter, and streams file content as a binary
                  column; no Python in the listing path.
  read_warc     — WARC (ISO 28500) response records -> (url, warc_ts,
                  html, nbytes). Parsing runs as an Arrow-batched UDF
                  over binaryFile rows: each task parses whole WARC
                  members (plain or per-record-gzip, the Common Crawl
                  layout) — records never straddle tasks because the
                  unit of parallelism is the file, the same layout
                  choice Common Crawl makes (~1 GB .warc.gz shards).
  read_wet      — WET shards (pre-extracted plain text, `conversion`
                  records) -> (url, warc_ts, text, nbytes); feeds the
                  text-plane operators directly (r5).
  read_wat      — WAT shards (per-page JSON metadata, `metadata`
                  records) -> (url, warc_ts, metadata map, nbytes);
                  completes the Common-Crawl WARC/WET/WAT triple (r6).

At 100 TB the WARC path scales by file count (one task per shard);
shard sizes are uniform by construction, so no skew defense is needed
before extraction's own split-path.
"""
from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from .maprows import map_rows

__all__ = ["read_pdf_dir", "read_warc", "read_wat", "read_wet"]


def read_pdf_dir(spark: SparkSession, path: str,
                 glob: str = "*.pdf") -> DataFrame:
    """Directory of raw PDFs -> (url, html, nbytes) via the binaryFile
    source (JVM-side listing + read; column-pruned to content/path)."""
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", glob)
          .option("recursiveFileLookup", "true")
          .load(path))
    return df.select(F.col("path").alias("url"),
                     F.col("content").alias("html"),
                     F.col("length").alias("nbytes"))


# --------------------------------------------------------------- WARC

def _split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield decompressed members of a multi-member gzip (the
    per-record compression Common Crawl uses), or the input unchanged
    if it is not gzip."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    pos = 0
    n = len(data)
    # memoryview: data[pos:] copied the whole remaining shard per
    # member — O(members x bytes) memcpy on a real .warc.gz (r4)
    mv = memoryview(data)
    while pos < n and data[pos:pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(31)
        out = d.decompress(mv[pos:])
        yield out
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def _parse_warc_records(data: bytes) -> Iterator[dict]:
    """WARC/1.x records from one (decompressed) buffer: header block
    terminated by CRLFCRLF, body of Content-Length bytes, two CRLFs
    between records (ISO 28500 §4)."""
    pos = 0
    n = len(data)
    while pos < n:
        if not data.startswith(b"WARC/", pos):
            nxt = data.find(b"WARC/", pos)
            if nxt == -1:
                return
            pos = nxt
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            return
        headers: dict[bytes, bytes] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b"0"))
        except ValueError:
            clen = 0
        body = data[hdr_end + 4:hdr_end + 4 + clen]
        yield {
            "type": headers.get(b"warc-type", b"").decode("latin-1"),
            "url": headers.get(b"warc-target-uri", b"").decode("latin-1"),
            "date": headers.get(b"warc-date", b"").decode("latin-1"),
            "content_type": headers.get(b"content-type",
                                        b"").decode("latin-1"),
            "body": body,
        }
        pos = hdr_end + 4 + clen
        while data.startswith(b"\r\n", pos):
            pos += 2


def _strip_http_envelope(body: bytes) -> bytes:
    """response records carry an HTTP message; the payload follows the
    first CRLFCRLF."""
    if body[:5] in (b"HTTP/",):
        i = body.find(b"\r\n\r\n")
        if i != -1:
            return body[i + 4:]
    return body


def _safe_iter(gen):
    """Drain a member/record generator, stopping (not failing) at the
    first decode error: one truncated .warc.gz shard must cost its own
    unparsed tail, never the Spark task — every other UDF in the
    pipeline quarantines per row; the sources fed by uncontrolled
    external bytes cannot be the exception (r5 review)."""
    while True:
        try:
            yield next(gen)
        except StopIteration:
            return
        except Exception:
            return


def _records(blob: bytes | None, rtype: str) -> Iterator[dict]:
    """The `rtype` records with a target URI in one shard file's bytes,
    each gzip member and record parse stopped at its first decode
    error."""
    for member in _safe_iter(_split_gzip_members(blob or b"")):
        for rec in _safe_iter(_parse_warc_records(member)):
            if rec["type"] == rtype and rec["url"]:
                yield rec


def _shard_files(spark: SparkSession, path: str, glob: str) -> DataFrame:
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .option("recursiveFileLookup", "true")
            .load(path)
            .select("content"))


def read_warc(spark: SparkSession, path: str,
              glob: str = "*.{warc,warc.gz}") -> DataFrame:
    """WARC shards -> (url, warc_ts, html, nbytes): response records
    only, HTTP envelope stripped — the Common-Crawl-style input table
    of the north rule. One task per shard file. The default glob
    deliberately EXCLUDES .warc.wet/.warc.wat shards (r5 review: the
    old '*.warc*' gunzipped and parsed every WET byte in a mixed
    Common-Crawl tree only to discard all of it — use read_wet for
    those)."""
    files = _shard_files(spark, path, glob)

    def parse(blob):
        for rec in _records(blob, "response"):
            payload = _strip_http_envelope(rec["body"])
            yield rec["url"], rec["date"], payload, len(payload)

    out = map_rows(files, ["content"], "url string, warc_ts_raw string, "
                   "html binary, nbytes long", parse)
    return out.select(
        "url",
        F.to_timestamp("warc_ts_raw").alias("warc_ts"),
        "html", "nbytes")


def read_wet(spark: SparkSession, path: str,
             glob: str = "*.warc.wet*") -> DataFrame:
    """WET shards (Common Crawl's pre-extracted plain text: the SAME
    ISO 28500 container, `conversion` records whose bodies are UTF-8
    text) -> (url, warc_ts, text, nbytes). Feeds the text-plane
    operators (dedup / minhash / analytics) directly, skipping HTML
    extraction — the ingest path a training pipeline uses when the
    crawl provider already ran boilerplate removal. Same per-shard
    parallelism and corrupt-member isolation as read_warc."""
    files = _shard_files(spark, path, glob)

    def parse(blob):
        for rec in _records(blob, "conversion"):
            body = rec["body"]
            yield (rec["url"], rec["date"], body.decode("utf-8", "replace"),
                   len(body))

    out = map_rows(files, ["content"], "url string, warc_ts_raw string, "
                   "text string, nbytes long", parse)
    return out.select(
        "url",
        F.to_timestamp("warc_ts_raw").alias("warc_ts"),
        "text", "nbytes")


# ---------------------------------------------------------------- WAT

def _flatten_wat(obj, prefix: str | None = None,
                 ) -> Iterator[tuple[str, str]]:
    """WAT JSON -> (dotted-path, value-string) pairs: scalars verbatim,
    lists summarized by `<path>.length` (Common-Crawl link lists run
    to hundreds of entries per page — a metadata MAP wants the page's
    facts, not a second copy of its outline; callers needing the raw
    links can json-parse the body themselves from read_warc).

    Paths are collision-free for ANY input (hypothesis-pinned):
    backslash then dot are escaped inside each segment, so a path
    separator is exactly an even-backslash-preceded '.'; the root is
    a None sentinel, NOT '' — an empty-string field name is a real
    segment ({'': {'0': x}} -> '.0', distinct from top-level '0')."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            # literal dots inside a JSON field name are escaped so
            # {"a": {"b": 1}} and {"a.b": 2} flatten to DISTINCT map
            # keys instead of silently overwriting (r6 review);
            # backslash escaped FIRST or {'a\\': {'b':1}} forges the
            # escape and collides with {'a\\.b': 1}
            seg = str(k).replace("\\", "\\\\").replace(".", "\\.")
            key = seg if prefix is None else f"{prefix}.{seg}"
            yield from _flatten_wat(v, key)
    elif isinstance(obj, list):
        yield ("length" if prefix is None else f"{prefix}.length",
               str(len(obj)))
    elif isinstance(obj, bool):
        yield "" if prefix is None else prefix, "true" if obj else "false"
    elif obj is None:
        yield "" if prefix is None else prefix, ""
    else:
        yield "" if prefix is None else prefix, str(obj)


def read_wat(spark: SparkSession, path: str,
             glob: str = "*.warc.wat*") -> DataFrame:
    """WAT shards (Common Crawl's per-page JSON metadata: the SAME
    ISO 28500 container, `metadata` records whose bodies are one JSON
    Envelope each) -> (url, warc_ts, metadata map<string,string>,
    nbytes). The JSON is flattened to dotted scalar paths (list
    fields become `<path>.length` counts) so downstream filters are
    plain map lookups — e.g.
    metadata['Envelope.Payload-Metadata.HTTP-Response-Metadata.'
    'Headers.Content-Type'] — without a JSON parse per query. Same
    per-shard parallelism and corrupt-member/record isolation as
    read_warc/read_wet; a record whose body is not valid JSON is
    skipped (its bytes cost only themselves, never the task)."""
    import json as _json
    files = _shard_files(spark, path, glob)

    def parse(blob):
        for rec in _records(blob, "metadata"):
            try:
                # flatten INSIDE the guard: hostile 1000-deep nesting
                # raises RecursionError from loads or the flatten walk
                # — that record must cost itself, not the task
                meta = dict(_flatten_wat(_json.loads(rec["body"])))
            except (ValueError, UnicodeDecodeError, RecursionError):
                continue
            yield rec["url"], rec["date"], meta, len(rec["body"])

    out = map_rows(files, ["content"], "url string, warc_ts_raw string, "
                   "metadata map<string,string>, nbytes long", parse)
    return out.select(
        "url",
        F.to_timestamp("warc_ts_raw").alias("warc_ts"),
        "metadata", "nbytes")
