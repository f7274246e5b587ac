"""Query registry: every operator claimed in SURVEY §2 has an entry
here, and (when SQL-expressible) a DuckDB oracle that predicts its
output exactly.

Two planes:

1. Extraction queries (the north star): synthesize PDFs from the
   documents table deterministically, run the FULL parse stack in the
   Arrow UDF, and compare against an oracle that predicts the extracted
   text with pure SQL string functions. The fixture design makes the
   layout output a closed-form function of the input text:
   12pt Helvetica at x=72 -> 9 leading spaces per line; leading 14 with
   dominant height 12 -> exactly one newline between lines; one '\n'
   appended per page (reference driver, test/debugIO.jl:72-82).

2. Pipeline/analytics plane: verification joins, resume anti-join,
   metrics aggregation, skew windows, dedup (exact/minhash/simhash),
   similarity search, text analysis — idiomatic DataFrame ops that
   Catalyst optimizes (broadcast joins, partial aggs, pushdown).
"""
from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .job import extract_pdfs, gen_pdf_corpus
from .maprows import map_rows

# ---------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) — predict the extraction output
# ---------------------------------------------------------------------

_SAN = ("'Doc ' || doc_id || ': ' || "
        "regexp_replace(coalesce(text,''), '[^a-zA-Z0-9 .,:;!?-]', ' ', 'g')")

# lines CTE: 60-char chunks, max 8, always >=1 (prefix guarantees len>0)
_LINES_CTE = f"""
WITH d AS (
  SELECT doc_id, {_SAN} AS s FROM documents
), l AS (
  SELECT doc_id, i, substr(s, ((i-1)*60)+1, 60) AS line
  FROM d CROSS JOIN generate_series(1, 8) t(i)
  WHERE (i-1)*60 < length(s)
)
"""

# single page: all lines on one page, one '\n' between lines, page ends
# with '\n'
_ORACLE_SINGLEPAGE = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url,
       1 AS n_pages,
       string_agg(repeat(' ', 9) || line, chr(10) ORDER BY i) || chr(10)
           AS text,
       'ok' AS status
FROM l GROUP BY doc_id
"""

# merged font plane, classes cycling by doc_id % 6:
#   0 cid / 1 winansi / 5 type3 -> plain single-page closed form
#   2 macroman -> doc lines + constant probe of MacRoman high bytes
#     (87 aacute, 8E eacute, A5 bullet, D0 endash, D1 emdash — ref
#     src/PDFonts.jl mac table)
#   3 symbol -> digits are identity so line 1 carries doc_id; line 2 is
#     the greek probe (a b g d p m W -> αβγδπµΩ; AGL maps mu to U+00B5
#     and Omega to U+2126 OHM SIGN, not U+03A9)
#   4 zapf -> constant probe only (no identity bytes;
#     1..5 -> a17..a21 -> U+2711..U+2715)
_ORACLE_FONTS = _LINES_CTE + """
, agg AS (
  SELECT doc_id,
         string_agg(repeat(' ', 9) || line, chr(10) ORDER BY i) AS body
  FROM l GROUP BY doc_id
)
SELECT 'doc://' || doc_id AS url,
       1 AS n_pages,
       CASE doc_id % 6
         WHEN 2 THEN body || chr(10) || repeat(' ', 9) || 'áé•–—' || chr(10)
         WHEN 3 THEN repeat(' ', 9) || doc_id || chr(10)
                     || repeat(' ', 9) || 'αβγδπµ' || chr(8486) || chr(10)
         WHEN 4 THEN repeat(' ', 9) || '✑✒✓✔✕' || chr(10)
         ELSE body || chr(10)
       END AS text,
       'ok' AS status
FROM agg
"""

# multipage: one line per page, each page contributes text + '\n'
_ORACLE_MULTIPAGE = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url,
       cast(count(*) AS int) AS n_pages,
       string_agg(repeat(' ', 9) || line || chr(10), '' ORDER BY i) AS text,
       'ok' AS status
FROM l GROUP BY doc_id
"""


def _extract_query(classes: list[str]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus = gen_pdf_corpus(docs, classes=classes)
        return (extract_pdfs(corpus)
                .select("url", "n_pages", "text", "status"))
    q.__doc__ = ("Full parse stack over fixture class(es) "
                 f"{', '.join(classes)}; text predicted in closed form "
                 "by the oracle.")
    return q


# ---------------------------------------------------------------------
# pipeline plane
# ---------------------------------------------------------------------

def q_verify_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-comparison join (SURVEY §2.12): extraction output joined
    with the SQL-predicted golden per url; counts matches/mismatches.
    The golden side is computed with Spark SQL string functions — the
    same closed form the DuckDB oracle uses."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extracted = (extract_pdfs(gen_pdf_corpus(docs, classes=["flate_simple"]))
                 .select("url", "text"))
    s = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(": "),
                 F.regexp_replace(F.coalesce(F.col("text"), F.lit("")),
                                  "[^a-zA-Z0-9 .,:;!?-]", " "))
    d = docs.select("doc_id", s.alias("s"))
    lines = (d.join(spark.range(1, 9).select(F.col("id").alias("i")))
             .where((F.col("i") - 1) * 60 < F.length("s"))
             .select("doc_id", "i",
                     F.substring(F.col("s"),
                                 ((F.col("i") - 1) * 60 + 1).cast("int"),
                                 60).alias("line")))
    golden = (lines.groupBy("doc_id")
              .agg(F.expr(
                  "array_join(transform(array_sort(collect_list("
                  "struct(i, line))), x -> repeat(' ', 9) || x.line),"
                  " '\\n') || '\\n'").alias("gtext"))
              .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
                      "gtext"))
    # golden is one row per input doc CARRYING ITS FULL TEXT — the
    # same corpus-scale forced-broadcast OOM class the r4 run.py fix
    # removed; let Spark pick the strategy (r5 review)
    joined = extracted.join(golden, "url", "left")
    return (joined.select(
        F.count_if(F.col("text") == F.col("gtext")).alias("n_match"),
        F.count_if(F.col("text") != F.col("gtext")).alias("n_mismatch"),
        F.count_if(F.col("gtext").isNull()).alias("n_missing")))


ORACLE_VERIFY_JOIN = _LINES_CTE + """
, g AS (SELECT doc_id FROM l GROUP BY doc_id)
SELECT count(*) AS n_match, cast(0 AS bigint) AS n_mismatch,
       cast(0 AS bigint) AS n_missing FROM g
"""


def q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics aggregation over extraction output (SURVEY S10): doc and
    page counts by status — the checkpoint/metrics table payload."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ext = extract_pdfs(gen_pdf_corpus(docs, classes=["multipage"]))
    return (ext.groupBy("status")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_pages").alias("sum_pages"))
            .orderBy("status"))


ORACLE_EXTRACT_METRICS = _LINES_CTE + """
, per_doc AS (SELECT doc_id, count(*) AS np FROM l GROUP BY doc_id)
SELECT 'ok' AS status, count(*) AS n_docs,
       cast(sum(np) AS bigint) AS sum_pages
FROM per_doc
"""


def q_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once resume (SURVEY S10): anti-join the input manifest
    against already-completed urls (here: every third doc 'done')."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "doc_id")
    done = corpus.filter(F.col("doc_id") % 3 == 0).select("url")
    # `done` is the unbounded prior-output set — never force-broadcast
    # the crash-recovery side (mirrors job.resume_filter, r4)
    remaining = corpus.join(done, "url", "left_anti")
    return remaining.select("url").orderBy("url")


ORACLE_RESUME_ANTIJOIN = """
SELECT 'doc://' || doc_id AS url FROM documents
WHERE doc_id % 3 <> 0 ORDER BY url
"""


def q_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew window (SURVEY §2.12): ntile/percent_rank over doc size for
    the salted range partitioning decision.

    Scalable exact-rank plan (r3 — was a single-partition global
    Window.orderBy over the whole corpus): global order on
    (n_chars, doc_id) is unique, so the global row number decomposes as
    rank = (#rows with smaller n_chars) + (row_number within this
    n_chars). The only global window runs over the DISTINCT-size
    histogram (bounded by the key domain, not the corpus); the per-key
    row_number shuffles once by n_chars and runs parallel. ntile /
    percent_rank are then closed-form integer arithmetic on (rank, N),
    matching the window-function definitions exactly (no ties)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "n_chars")
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    wk = (Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, -1))
    base = hist.select(
        "n_chars",
        F.coalesce(F.sum("cnt").over(wk), F.lit(0)).alias("base"))
    total = hist.agg(F.sum("cnt").alias("n_total"))
    wdoc = Window.partitionBy("n_chars").orderBy("doc_id")
    ranked = (docs.withColumn("rk", F.row_number().over(wdoc))
              # base is one row per DISTINCT doc size (unbounded at
              # scale) and the window above already partitioned by
              # n_chars — the plain join is co-partitioned; only the
              # 1-row total stays a broadcast (r5 review)
              .join(base, "n_chars")
              .crossJoin(F.broadcast(total))
              .withColumn("rn", F.col("base") + F.col("rk")))
    q = F.floor(F.col("n_total") / 8).cast("long")
    r = (F.col("n_total") % 8).cast("long")
    rn = F.col("rn")
    # ntile(8): first (N mod 8) buckets hold ceil(N/8) rows, the rest
    # floor(N/8) — integer arithmetic, exact at any N
    size_bucket = F.when(
        rn <= (q + 1) * r,
        F.floor((rn - 1) / (q + 1)) + 1
    ).otherwise(
        r + F.floor((rn - (q + 1) * r - 1) / F.greatest(q, F.lit(1))) + 1
    ).cast("int")
    pct_rank = F.when(F.col("n_total") == 1, F.lit(0.0)).otherwise(
        F.round((rn - 1) / (F.col("n_total") - 1), 6))
    return (ranked.select(
        "doc_id", "n_chars",
        size_bucket.alias("size_bucket"),
        pct_rank.alias("pct_rank"))
        .orderBy("doc_id"))


ORACLE_SKEW_DIAGNOSIS = """
SELECT doc_id, n_chars,
       cast(ntile(8) OVER (ORDER BY n_chars ASC, doc_id ASC) AS int)
           AS size_bucket,
       round(percent_rank() OVER (ORDER BY n_chars ASC, doc_id ASC), 6)
           AS pct_rank
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# TPC-H-ish SQL plane (joins / aggs / windows / sorts / set ops)
# ---------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-style aggregation: partial-agg friendly, shuffle on tiny key."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum("l_extendedprice").alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + agg + top-k (SURVEY §2.12 joins/top-k)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"))
            .orderBy(F.desc("revenue"))
            .limit(10))


ORACLE_TOP_CUSTOMERS = """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY revenue DESC LIMIT 10
"""


def q_order_priority_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: rank per group + lag delta."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders
            .select("o_orderpriority", "o_orderkey", "o_totalprice",
                    F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 5)
            .orderBy("o_orderpriority", "rk"))


ORACLE_ORDER_PRIORITY_WINDOW = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         cast(row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
              AS int) AS rk
  FROM orders) t
WHERE rk <= 5 ORDER BY o_orderpriority, rk
"""


def q_regression_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (SURVEY §2.12): union + except for regression diffs."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = orders.filter(F.col("o_totalprice") > 100000).select("o_orderkey")
    b = orders.filter(F.col("o_totalprice") > 200000).select("o_orderkey")
    return a.exceptAll(b).orderBy("o_orderkey")


ORACLE_REGRESSION_EXCEPT = """
SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
EXCEPT ALL
SELECT o_orderkey FROM orders WHERE o_totalprice > 200000
ORDER BY o_orderkey
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream sessionization via lag + cumulative sum windows —
    the batch expression of the streaming session-window operator.
    The summed measure is floor-cents (integer): double summation order
    is engine-specific, so a float sum cannot be value-hash compared."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w))) > 1800
    sess = (ev.withColumn("new_sess",
                          F.when(gap | F.lag("ts").over(w).isNull(), 1)
                          .otherwise(0))
            .withColumn("sess_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    cents = F.floor(F.col("value") * 100).cast("long")
    return (sess.withColumn("cents", cents)
            .groupBy("user_id", "sess_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("sum_cents"))
            .orderBy("user_id", "sess_id"))


ORACLE_EVENTS_SESSIONIZE = """
WITH t AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  -- DuckDB sum(int) OVER -> HUGEINT; cast so the driver's value hash
  -- sees int64 like Spark's (the r1/r2 hash-fail root cause)
  SELECT user_id, value,
         cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS bigint)
             AS sess_id
  FROM t
)
SELECT user_id, sess_id, count(*) AS n_events,
       cast(sum(cast(floor(value * 100) AS bigint)) AS bigint) AS sum_cents
FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id
"""


def q_struct_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-tree reader (SURVEY D10; PDDocStruct.jl:24-65): walks
    /StructTreeRoot depth-first, emitting role + RoleMap-resolved role +
    attributes per element. Fixture: Document > [H1, Para x n_lines]
    with RoleMap Para->P — all predicted in closed form."""
    from pdfio_spark.pd.pagetree import PDDoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["tagged"])

    def roles(url, html):
        try:
            doc = PDDoc(html)
            for i, e in enumerate(doc.walk_structure()):
                yield (url, i + 1, e["role"], e["mapped_role"], e["title"],
                       e["lang"], e["actual_text"], doc.is_tagged)
        except Exception:
            pass

    return (map_rows(corpus, ["url", "html"],
                     "url string, seq int, role string, mapped_role string, "
                     "title string, lang string, actual_text string, "
                     "tagged string", roles)
            .orderBy("url", "seq"))


ORACLE_STRUCT_ROLES = _LINES_CTE + """
, n AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
, rows_ AS (
  SELECT doc_id, 1 AS seq, 'Document' AS role, 'Document' AS mapped_role,
         '' AS title, '' AS lang, '' AS actual_text FROM n
  UNION ALL
  SELECT doc_id, 2, 'H1', 'H1', 'Heading', 'en', '' FROM n
  UNION ALL
  SELECT n.doc_id, cast(2 + i AS int), 'Para', 'P', '', '',
         'para-' || (i - 1)
  FROM n CROSS JOIN generate_series(1, 8) t(i) WHERE i <= n.n_lines
)
SELECT 'doc://' || doc_id AS url, cast(seq AS int) AS seq, role,
       mapped_role, title, lang, actual_text, 'tagged' AS tagged
FROM rows_ ORDER BY url, seq
"""


def q_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature validation (SURVEY X11; PDSignature.jl:101-154): CMS /
    PKCS#1 verification over /ByteRange for the reference's SubFilter
    matrix, a tampered negative class, an EXPIRED-certificate class
    (cryptographically valid CMS whose signer-cert window predates the
    /M signing time — mirrors the reference's expired-cert test,
    runtests.jl:182-235), and (r4) a TRUST-CHAIN class rotating
    CA-chained leaf / self-signed-untrusted / ECDSA signers against the
    packaged trust store (verify_local_trust / CertStore semantics,
    PDSignature.jl:13-48). All outcomes predicted in closed form
    (signer identities are the packaged synthetic certificates)."""
    from pdfio_spark.fixtures import test_trust_pems
    from pdfio_spark.pd.pagetree import PDDoc
    from pdfio_spark.pd.signature import TrustStore, validate_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(
        docs, classes=["signed", "signed_tampered", "signed_expired",
                       "signed_chain"])
    trust = []  # built once per task: a TrustStore does not pickle

    def sigs(url, html):
        if not trust:
            trust.append(TrustStore.from_pems(test_trust_pems()))
        try:
            # crls=[]/ocsp=[] pin revocation OFF like trust= pins the
            # anchors: the oracled passed/err columns must not depend
            # on process-wide setter/env state
            for st in validate_signatures(PDDoc(html), html, trust=trust[0],
                                          crls=[], ocsp=[]):
                yield (url, st["subfilter"], bool(st["passed"]),
                       st["signer"], st["error"])
        except Exception:
            pass

    return (map_rows(corpus, ["url", "html"],
                     "url string, subfilter string, passed boolean, "
                     "signer string, err string", sigs)
            .orderBy("url"))


ORACLE_SIGNATURES = """
SELECT 'doc://' || doc_id AS url,
       CASE WHEN doc_id % 4 = 0
            THEN ['adbe.pkcs7.detached','adbe.pkcs7.sha1',
                  'adbe.x509.rsa_sha1'][((doc_id // 4) % 3) + 1]
            ELSE 'adbe.pkcs7.detached' END AS subfilter,
       (doc_id % 4 = 0
        OR (doc_id % 4 = 3 AND (doc_id // 4) % 3 != 1)) AS passed,
       CASE WHEN doc_id % 4 = 0 THEN 'CN=pdfio-spark-test'
            WHEN doc_id % 4 = 2 THEN 'CN=pdfio-spark-expired'
            WHEN doc_id % 4 = 3 THEN
                ['CN=pdfio-spark-leaf','CN=pdfio-spark-untrusted',
                 'CN=pdfio-spark-ec'][((doc_id // 4) % 3) + 1]
            ELSE NULL END AS signer,
       CASE WHEN doc_id % 4 = 1 THEN 'signature verification failed'
            WHEN doc_id % 4 = 2 THEN 'certificate expired'
            WHEN doc_id % 4 = 3 AND (doc_id // 4) % 3 = 1
                THEN 'untrusted signer certificate'
            ELSE NULL END AS err
FROM documents ORDER BY url
"""


def q_extract_spans_courier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED span geometry (unlike q_extract_spans, whose mixed fonts
    are kern-dependent): Courier is fixed-pitch 600/1000, so every span
    box is closed-form — x1 = 72 + 7.2*len(line), y0 = 720 - 14*(i-1),
    height 12. Geometry rounded to 1 decimal to absorb the engine's
    float32 accumulation vs the oracle's float64 (error ~1e-3 at
    60 chars; spacing between distinct values is >= 7.2)."""
    from pdfio_spark.pd.extract import extract_doc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["flate_simple"])

    def spans(url, html):
        r = extract_doc(html, with_spans=True)
        if r["status"] != "ok":
            return
        for p in r["pages"]:
            for s in p["spans"]:
                yield (url, round(s["x0"], 1), round(s["y0"], 1),
                       round(s["x1"], 1), round(s["y1"], 1), s["text"])

    return (map_rows(corpus, ["url", "html"],
                     "url string, x0 double, y0 double, x1 double, "
                     "y1 double, stext string", spans)
            .orderBy("url", "y0"))


ORACLE_EXTRACT_SPANS_COURIER = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url,
       72.0 :: double AS x0,
       (720.0 - 14.0 * (i - 1)) :: double AS y0,
       round(72.0 + 7.2 * length(line), 1) :: double AS x1,
       (732.0 - 14.0 * (i - 1)) :: double AS y1,
       line AS stext
FROM l ORDER BY url, y0
"""


def q_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-file extraction via /Names/EmbeddedFiles (ISO 32000
    7.11.4; the reference surfaces the names dict — runtests.jl:815 —
    extraction is the crawl-pipeline extension). Even docs are plain,
    odd docs are AES-256-encrypted (EF stream decrypts through StmF);
    the payload is a closed-form function of the first text line."""
    from pdfio_spark.pd.navigation import get_attachments
    from pdfio_spark.pd.pagetree import PDDoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs,
                            classes=["with_attachment", "attach_encrypted"])

    def atts(url, html):
        try:
            for a in get_attachments(PDDoc(html)):
                yield (url, a["name"], a["n_bytes"],
                       (a["data"] or b"").decode("latin-1"))
        except Exception:
            pass

    return (map_rows(corpus, ["url", "html"],
                     "url string, filename string, n_bytes long, "
                     "payload string", atts)
            .orderBy("url"))


ORACLE_ATTACHMENTS = """
WITH d AS (
  SELECT doc_id,
         'ATTACH:' || substr('Doc ' || doc_id || ': ' ||
             regexp_replace(coalesce(text,''), '[^a-zA-Z0-9 .,:;!?-]',
                            ' ', 'g'), 1, 60) AS payload
  FROM documents
)
SELECT 'doc://' || doc_id AS url, 'attachment.txt' AS filename,
       cast(length(payload) AS bigint) AS n_bytes, payload
FROM d ORDER BY url
"""


def q_page_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-label number tree, BOTH directions (SURVEY T1-T4): per-page
    label lookup (roman pages 1-2, 'P-<n>' decimal after) plus the
    inverse label->page search — p1_page is the page whose label is
    'P-1' (page 3 for docs with >= 3 pages, NULL otherwise). (r3:
    absorbed the former q_label_to_page.)"""
    from pdfio_spark.pd.navigation import (find_page_for_label,
                                           get_page_labels)
    from pdfio_spark.pd.pagetree import PDDoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["multipage_labels"])

    def labels(url, html):
        try:
            doc = PDDoc(html)
            r = find_page_for_label(doc, "P-1")
            p1 = r[0] if r is not None else None
            for i, lab in enumerate(get_page_labels(doc)):
                yield url, i + 1, lab, p1
        except Exception:
            pass

    return (map_rows(corpus, ["url", "html"],
                     "url string, page_no int, label string, p1_page int",
                     labels)
            .orderBy("url", "page_no"))


ORACLE_PAGE_LABELS = _LINES_CTE + """
, n AS (SELECT doc_id, count(*) AS nl FROM l GROUP BY doc_id)
SELECT 'doc://' || l.doc_id AS url,
       cast(i AS int) AS page_no,
       CASE WHEN i = 1 THEN 'i' WHEN i = 2 THEN 'ii'
            ELSE 'P-' || (i - 2) END AS label,
       cast(CASE WHEN n.nl >= 3 THEN 3 END AS int) AS p1_page
FROM l JOIN n ON l.doc_id = n.doc_id ORDER BY url, page_no
"""


def q_doc_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/Info dict metadata (SURVEY D8: Producer + Title via
    PDFDocEncoding) joined with the CDDate plane (SURVEY §2.12: parse
    /Info CreationDate D:YYYYMMDDHHmmSS+HH'mm and normalize to UTC).
    Two fixture corpora (with_info, with_dates), one row per doc each,
    equi-joined on url with the smaller side broadcast. (r3: merged
    q_doc_info + q_dates.)"""
    from pdfio_spark.pd.dates import CDDate
    from pdfio_spark.pd.pagetree import PDDoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    info_corpus = gen_pdf_corpus(docs, classes=["with_info"])
    dates_corpus = gen_pdf_corpus(docs, classes=["with_dates"])

    def info(url, html):
        try:
            d = PDDoc(html).get_info()
            yield url, d.get("Producer"), d.get("Title")
        except Exception:
            pass

    def dates(url, html):
        try:
            raw = PDDoc(html).get_info().get("CreationDate")
            utc = CDDate(raw).utc().strftime("%Y-%m-%d %H:%M:%S")
            yield url, raw, utc
        except Exception:
            pass

    info_df = map_rows(info_corpus, ["url", "html"],
                       "url string, producer string, title string", info)
    dates_df = map_rows(dates_corpus, ["url", "html"],
                        "url string, raw_date string, utc string", dates)
    # dates_df is one row per input doc — corpus-sized, not a dim;
    # shuffle join (r5 review)
    return (info_df.join(dates_df, "url")
            .orderBy("url"))


ORACLE_DOC_METADATA = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url,
       'pdfio-spark' AS producer,
       substr(min(line) FILTER (WHERE i = 1), 1, 24) AS title,
       'D:20' || lpad(cast(doc_id % 100 AS varchar), 2, '0')
           || '0315143000+05''30' AS raw_date,
       '20' || lpad(cast(doc_id % 100 AS varchar), 2, '0')
           || '-03-15 09:00:00' AS utc
FROM l GROUP BY doc_id ORDER BY url
"""


def q_outline_dest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outline walk + destination layout matrix (SURVEY N1-N3;
    PDOutline.jl:32-67): one 'Sec <i>' item per page with nesting level,
    destinations resolved through direct arrays (even items, rotating
    XYZ/Fit/FitH/FitV/FitR/FitB/FitBH/FitBV) and the /Names/Dests name
    tree (odd items — SURVEY T2 string keys, resolving to Fit). Layout +
    all coordinate slots + zoom are closed-form. (r3: absorbed the
    former q_outline — same walk, plus the dest matrix.)"""
    from pdfio_spark.pd.navigation import get_outline
    from pdfio_spark.pd.pagetree import PDDoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["outline_toc"])

    def dests(url, html):
        try:
            for item in get_outline(PDDoc(html)):
                d = item["dest"]
                if d is not None:
                    yield (url, item["level"], item["title"], d["page_no"],
                           d["layout"], d["left"], d["bottom"], d["right"],
                           d["top"], d["zoom"])
        except Exception:
            pass

    return (map_rows(corpus, ["url", "html"],
                     "url string, level int, title string, page_no int, "
                     "layout string, left double, bottom double, "
                     "right double, top double, zoom double", dests)
            .orderBy("url", "title"))


ORACLE_OUTLINE_DEST = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url,
       cast(0 AS int) AS level,
       'Sec ' || i AS title,
       cast(i AS int) AS page_no,
       CASE WHEN i % 2 = 0 THEN 'Fit'
            ELSE ['XYZ','Fit','FitH','FitV','FitR','FitB','FitBH','FitBV']
                 [((i - 1) // 2) % 8 + 1] END AS layout,
       CASE WHEN i % 2 = 0 THEN 0.0
            ELSE CASE ((i - 1) // 2) % 8 WHEN 0 THEN 10.0 WHEN 3 THEN 50.0
                 WHEN 4 THEN 10.0 WHEN 7 THEN 60.0 ELSE 0.0 END
       END :: double AS "left",
       CASE WHEN i % 2 = 1 AND ((i - 1) // 2) % 8 = 4 THEN 20.0
            ELSE 0.0 END :: double AS bottom,
       CASE WHEN i % 2 = 1 AND ((i - 1) // 2) % 8 = 4 THEN 300.0
            ELSE 0.0 END :: double AS "right",
       CASE WHEN i % 2 = 0 THEN 0.0
            ELSE CASE ((i - 1) // 2) % 8 WHEN 0 THEN 700.0 WHEN 2 THEN 600.0
                 WHEN 4 THEN 400.0 WHEN 6 THEN 650.0 ELSE 0.0 END
       END :: double AS "top",
       CASE WHEN i % 2 = 1 AND ((i - 1) // 2) % 8 = 0 THEN 1.5
            ELSE 0.0 END :: double AS zoom
FROM l ORDER BY url, title
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — a custom operator Spark lacks, built scalably as
    union + sorted window with last(ignorenulls) (no per-row Python, one
    shuffle on the key): each event picks the latest order of the same
    user with o_orderdate <= ts (tie-break: max o_orderkey)."""
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("user_id").isNotNull())
          .select(F.col("user_id").alias("k"), F.col("ts").alias("t"),
                  "event_id",
                  F.lit(None).cast("long").alias("o_orderkey"),
                  F.lit(1).alias("is_event")))
    od = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .select(F.col("o_custkey").alias("k"),
                  F.col("o_orderdate").alias("t"),
                  F.lit(None).cast("long").alias("event_id"),
                  "o_orderkey", F.lit(0).alias("is_event")))
    u = ev.unionByName(od)
    w = (Window.partitionBy("k")
         .orderBy(F.col("t").asc(), F.col("is_event").asc(),
                  F.col("o_orderkey").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, 0))
    return (u.withColumn("asof_orderkey",
                         F.last("o_orderkey", ignorenulls=True).over(w))
            .filter(F.col("is_event") == 1)
            .select(F.col("event_id"), F.col("k").alias("user_id"),
                    "asof_orderkey")
            .orderBy("event_id"))


ORACLE_ASOF_JOIN = """
WITH latest AS (
  SELECT e.event_id, e.user_id,
         (SELECT max(o.o_orderkey) FROM orders o
          WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            AND o.o_orderdate = (SELECT max(o2.o_orderdate) FROM orders o2
                                 WHERE o2.o_custkey = e.user_id
                                   AND o2.o_orderdate <= e.ts))
             AS asof_orderkey
  FROM events e WHERE e.user_id IS NOT NULL
)
SELECT event_id, user_id, asof_orderkey FROM latest ORDER BY event_id
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitem quantities joined into [lo, hi] bands via an
    actual interval-condition join (broadcast nested loop on the tiny
    band dim — the plan shape that scales; a CASE would hide it)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bands = spark.createDataFrame(
        [("low", 0.0, 9.0), ("mid", 10.0, 39.0), ("high", 40.0, 1e9)],
        "band string, lo double, hi double")
    return (li.join(F.broadcast(bands),
                    (F.col("l_quantity") >= F.col("lo"))
                    & (F.col("l_quantity") <= F.col("hi")))
            .groupBy("band")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
            .orderBy("band"))


ORACLE_RANGE_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 9.0), ('mid', 10.0, 39.0), ('high', 40.0, 1e9)
)
SELECT band, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
GROUP BY band ORDER BY band
"""


def q_events_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user running totals over the trailing
    hour (value-based frame, not row-based). The summed measure is
    floor-cents (integer) — double summation ORDER inside a frame is
    engine-specific, so a float sum cannot be value-hash compared."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_timestamp("ts"))
         .rangeBetween(-3600, 0))
    cents = F.floor(F.col("value") * 100).cast("long")
    return (ev.withColumn("cents", cents)
            .select("event_id", "user_id",
                    F.sum("cents").over(w).alias("hour_cents"),
                    F.count("*").over(w).alias("hour_n"))
            .orderBy("event_id"))


ORACLE_EVENTS_RUNNING_WINDOW = """
SELECT event_id, user_id,
       -- sum(bigint) OVER is HUGEINT in DuckDB: cast for the driver hash
       cast(sum(cast(floor(value * 100) AS bigint)) OVER w AS bigint)
           AS hour_cents,
       count(*) OVER w AS hour_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY cast(floor(epoch(ts)) AS bigint)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def q_semijoin_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one order > 200k."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (spark.read.parquet(f"{sf_dir}/orders.parquet")
           .filter(F.col("o_totalprice") > 200000)
           .select("o_custkey"))
    return (cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
            .select("c_custkey", "c_name")
            .orderBy("c_custkey"))


ORACLE_SEMIJOIN_CUSTOMERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
ORDER BY c_custkey
"""


def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling, uniform AND stratified, in one query
    (method column). Training-data splits must be reproducible across
    engines: md5 of the stable key, no RNG. uniform = first-hex-char
    bucket ~1/8; stratified = per-language md5-nibble keep-rate
    (en 4/16, others 8/16 — down-weight the majority class). Both are
    one map-side filter; no shuffle before the sort. (r3: merged from
    the two r2 sampling queries.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    uni = (docs.filter(bucket.isin("0", "1"))
           .select(F.lit("uniform").alias("method"), "doc_id", "lang"))
    nib = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
                 16, 10).cast("int")
    keep = F.when(F.col("lang") == "en", nib < 4).otherwise(nib < 8)
    strat = (docs.filter(keep)
             .select(F.lit("stratified").alias("method"), "doc_id", "lang"))
    return uni.unionByName(strat).orderBy("method", "doc_id")


ORACLE_SAMPLE = """
SELECT 'uniform' AS method, doc_id, lang FROM documents
WHERE substr(md5(cast(doc_id AS varchar)), 1, 1) IN ('0', '1')
UNION ALL
SELECT 'stratified', doc_id, lang FROM (
  SELECT doc_id, lang,
         strpos('0123456789abcdef',
                substr(md5(cast(doc_id AS varchar)), 1, 1)) - 1 AS nib
  FROM documents
) d
WHERE CASE WHEN lang = 'en' THEN nib < 4 ELSE nib < 8 END
ORDER BY method, doc_id
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets plane: ROLLUP(priority, status) revenue totals."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n"))
            .orderBy(F.col("o_orderpriority").asc_nulls_first(),
                     F.col("o_orderstatus").asc_nulls_first()))


ORACLE_ROLLUP_REVENUE = """
SELECT o_orderpriority, o_orderstatus,
       round(sum(o_totalprice), 2) AS revenue, count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def q_distinct_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-url sanity counts (SURVEY §2.12): exact count_distinct
    (the approx_count_distinct HLL variant is engine-specific, so the
    oracled check uses the exact form)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.count_distinct("doc_id").alias("n_ids"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"))


ORACLE_DISTINCT_SANITY = """
SELECT count(DISTINCT doc_id) AS n_ids,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources
FROM documents
"""


# ---------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------

def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup (r4; evolved from q_dedup_exact, whose exact
    hash-groupBy stage is the pipeline's first step and remains fully
    oracled through the group columns): exact groups collapse first,
    MinHash-LSH runs over one representative per exact group, star
    connected components merge near-dup clusters, and every input doc
    gets (text_hash, n_dups, exact_keep, keep_id, is_kept). Pipeline
    order is the scale lesson from the 1M clique soak
    (BENCH/BASELINE.md): 18.6 s vs 111 s + GC collapse raw-order."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_keep_list(docs)


def _dedup_pipeline_oracle() -> str:
    cte_defs, pair_select = _minhash_md5_parts(source="reps")
    return rf"""
WITH RECURSIVE hashed AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(coalesce(text,''), '\s+', ' ', 'g')))
             AS h
  FROM documents
), groups AS (
  SELECT h, min(doc_id) AS rep_id, count(*) AS n_dups
  FROM hashed GROUP BY h
), reps AS (
  SELECT g.rep_id AS doc_id, hx.text
  FROM groups g JOIN hashed hx ON hx.doc_id = g.rep_id
), {cte_defs}, pairs AS (
  {pair_select}
), e AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT s AS src, s AS node FROM e
  UNION
  SELECT r.src, e2.t FROM reach r JOIN e e2 ON r.node = e2.s
), cc AS (
  SELECT src AS rep_id, min(node) AS component
  FROM reach GROUP BY src
)
SELECT hx.doc_id, hx.h AS text_hash, g.n_dups,
       g.rep_id AS exact_keep,
       coalesce(cc.component, g.rep_id) AS keep_id,
       (hx.doc_id = coalesce(cc.component, g.rep_id)) AS is_kept
FROM hashed hx
JOIN groups g ON g.h = hx.h
LEFT JOIN cc ON cc.rep_id = g.rep_id
ORDER BY hx.doc_id
"""


# NOTE: ORACLE_DEDUP_PIPELINE is assigned after _minhash_md5_parts is
# defined (it composes the shingle/band CTEs over the reps relation).


def dedup_keep_list(docs: DataFrame) -> DataFrame:
    """END-TO-END dedup (the full training-pipeline operator, r4):
    exact stage -> near-dup stage over exact representatives -> star
    connected components -> one keep decision per input doc.

    Pipeline order is the load-bearing part (measured in the 1M clique
    soak, BENCH/BASELINE.md): heavy exact/near-identical duplication
    forms k-cliques in the LSH candidate graph (k^2/2 pairs); the
    exact hash-groupBy collapses identical docs FIRST, so MinHash runs
    over one representative per exact group and the pair graph scales
    with the distinct corpus, not the raw one.

    Returns one row per input doc: (doc_id, text_hash, n_dups,
    exact_keep, keep_id, is_kept) — the exact-stage group info
    (text_hash, group size, min doc_id of the exact group) plus the
    final cluster decision: keep_id = min doc_id over the doc's whole
    duplicate cluster (exact group ∪ near-dup component); is_kept
    marks the one row per cluster a filtering job retains."""
    norm = F.lower(F.regexp_replace(F.coalesce("text", F.lit("")),
                                    r"\s+", " "))
    # (doc_id, hash) materialized ONCE — two downstream branches (reps
    # selection and the final per-doc join) would otherwise each re-run
    # the full-text normalize+md5 scan; the checkpoint is id+hash only,
    # never the text
    ids = (docs.select("doc_id", F.md5(norm).alias("h"))
           .localCheckpoint())
    groups = (ids.groupBy("h")
              .agg(F.min("doc_id").alias("rep_id"),
                   F.count("*").alias("n_dups"))
              .localCheckpoint())
    # near-dup candidates over ONE representative per exact group; text
    # comes straight off the source scan by doc_id (groups is one row
    # per DISTINCT hash — corpus-sized, so shuffle joins, NOT broadcasts)
    reps = docs.select("doc_id", "text").join(
        groups.select(F.col("rep_id").alias("doc_id")), "doc_id")
    pairs = _minhash_md5_candidates(reps)
    labels, _ = connected_components(pairs, s="doc_a", t="doc_b")
    rep_keep = labels.select(F.col("node").alias("rep_id"),
                             F.col("component").alias("keep_id"))
    out = (ids.join(groups, "h")
           .join(rep_keep, "rep_id", "left")
           .select("doc_id", F.col("h").alias("text_hash"), "n_dups",
                   F.col("rep_id").alias("exact_keep"),
                   F.coalesce("keep_id", "rep_id").alias("keep_id")))
    return (out.withColumn("is_kept", F.col("doc_id") == F.col("keep_id"))
            .orderBy("doc_id"))


def q_text_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text analytics in ONE pass: token counting (whitespace +
    BPE-ish word/punct regex), quality scoring (length / punctuation /
    stopword ratios), language-ID (stopword voting en/de/fr), and
    document fingerprinting (content + first-8-token prefix md5).
    All JVM-side expressions — no Python in the hot path, map-only
    until the final sort; at 100 TB this is one scan of the corpus.
    (r3: merged from the four single-metric r2 queries so the whole
    analytics plane sits inside the driver's correctness window.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.select("doc_id", *text_metrics_cols())
            .orderBy("doc_id"))


def ws_tokens_expr(col="text"):
    """THE whitespace token-count definition (split of the trimmed,
    NULL-coalesced text; empty text counts 1 — its documented
    convention) — ONE kernel shared by text_metrics_cols (oracled as
    q_text_analytics.ws_tokens) and the token-budget domain cap
    (job.domain_cap_decisions max_tokens_per_domain), so a budget is
    measured in exactly the oracle-verified unit (the shared-kernel
    rule: a drift here would silently change what a token budget
    means)."""
    t = F.coalesce(col, F.lit(""))
    return F.size(F.split(F.trim(t), r"\s+"))


def text_metrics_cols() -> list:
    """The analytics-plane expression set over a `text` column — ONE
    definition shared by q_text_analytics (oracled) and the production
    WET ingest (run.py --mode wet), so the metrics a pipeline annotates
    at ingest time are exactly the oracle-verified ones."""
    t = F.coalesce("text", F.lit(""))
    ws_tokens = ws_tokens_expr()
    bpe_ish = F.size(F.expr(
        r"regexp_extract_all(coalesce(text,''), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)"))
    n = F.length(t)
    punct = n - F.length(F.regexp_replace(t, r"[.,:;!?]", ""))
    words = F.split(F.lower(F.trim(t)), r"\s+")
    nwords = F.size(words)
    stop = F.size(F.filter(words, lambda w: w.isin(
        "the", "a", "of", "and", "to", "in", "is", "it")))
    en = F.size(F.filter(words, lambda w: w.isin("the", "and", "of", "is")))
    de = F.size(F.filter(words, lambda w: w.isin("der", "und", "die", "ist")))
    fr = F.size(F.filter(words, lambda w: w.isin("le", "et", "la", "est")))
    pred = (F.when((en >= de) & (en >= fr), "en")
            .when(de >= fr, "de").otherwise("fr"))
    prefix = F.concat_ws(" ", F.slice(F.split(F.trim(t), r"\s+"), 1, 8))
    return [
        ws_tokens.alias("ws_tokens"),
        bpe_ish.alias("bpe_tokens"),
        n.alias("n_chars_actual"),
        F.round(punct / F.greatest(n, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop / F.greatest(nwords, F.lit(1)), 6).alias("stop_ratio"),
        pred.alias("pred_lang"),
        F.md5(t).alias("content_md5"),
        F.md5(prefix).alias("prefix_md5"),
    ]


ORACLE_TEXT_ANALYTICS = r"""
WITH t AS (
  SELECT doc_id, coalesce(text,'') AS s,
         regexp_replace(trim(coalesce(text,'')), '\s+', ' ', 'g') AS c
  FROM documents
), w AS (
  SELECT doc_id, s, c,
         string_split_regex(lower(trim(s)), '\s+') AS words
  FROM t
)
SELECT doc_id,
       cast(length(c) - length(replace(c, ' ', '')) + 1 AS int) AS ws_tokens,
       cast(length(regexp_replace(
           regexp_replace(s, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 'x', 'g'),
           '\s+', '', 'g')) AS int) AS bpe_tokens,
       cast(length(s) AS int) AS n_chars_actual,
       round((length(s) - length(regexp_replace(s, '[.,:;!?]', '', 'g')))
             / greatest(length(s), 1), 6) AS punct_ratio,
       round(len(list_filter(words, x -> x IN
             ('the','a','of','and','to','in','is','it')))
             / greatest(len(words), 1), 6) AS stop_ratio,
       CASE WHEN len(list_filter(words, x -> x IN ('the','and','of','is')))
                 >= len(list_filter(words, x -> x IN ('der','und','die','ist')))
             AND len(list_filter(words, x -> x IN ('the','and','of','is')))
                 >= len(list_filter(words, x -> x IN ('le','et','la','est')))
            THEN 'en'
            WHEN len(list_filter(words, x -> x IN ('der','und','die','ist')))
                 >= len(list_filter(words, x -> x IN ('le','et','la','est')))
            THEN 'de' ELSE 'fr' END AS pred_lang,
       md5(s) AS content_md5,
       md5(array_to_string(list_slice(
           string_split_regex(trim(s), '\s+'), 1, 8), ' ')) AS prefix_md5
FROM w ORDER BY doc_id
"""


def repetition_words_col():
    """The lowered word array, bound ONCE as its own projection
    column — the bigram transform below indexes it per element, and
    with the split inlined every element_at re-splits the whole text:
    O(words^2) splits, measured 11x on q_repetition_filter when an
    r6 refactor briefly inlined it. Callers select this first, then
    repetition_metric_cols over it."""
    return F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))),
                   r"\s+").alias("_rep_w")


def repetition_metric_cols(words_col: str = "_rep_w") -> list:
    """Gopher-style repetition metrics over the bound word array
    (repetition_words_col) — ONE definition shared by
    q_repetition_filter (oracled) and the production quality gate
    (job.quality_decisions), the text_metrics_cols rule. All
    row-local JVM expressions."""
    words = F.col(words_col)
    nw = F.size(words)
    dup_frac = F.round(
        (nw - F.size(F.array_distinct(words)))
        / F.greatest(nw, F.lit(1)).cast("double"), 6)
    bg = F.transform(F.sequence(F.lit(1), nw - 1),
                     lambda i: F.concat(F.element_at(words, i),
                                        F.lit(" "),
                                        F.element_at(words, i + 1)))
    # top-bigram count = longest equal run in the SORTED bigram array:
    # O(n log n) per row (was O(n^2): per-distinct-bigram F.filter —
    # a 100k-word doc is ~10^10 comparisons inside one row, a per-row
    # CPU bomb the row timeout would convert into data loss).
    # Bigrams always contain a space, so the "" init can't match.
    run0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))

    def _run_step(acc, x):
        r = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), r.alias("run"),
                        F.greatest(acc["best"], r).alias("best"))

    top = F.aggregate(F.array_sort(bg), run0, _run_step,
                      lambda acc: acc["best"])
    top_bg_frac = F.when(nw >= 2,
                         F.round(top / (nw - 1).cast("double"), 6)) \
        .otherwise(F.lit(0.0))
    return [nw.alias("n_words"),
            dup_frac.alias("dup_word_frac"),
            top_bg_frac.alias("top_bigram_frac")]


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (training-data quality gate):
    duplicate-word fraction and top-bigram fraction per doc, plus the
    keep/drop decision. All row-local JVM expressions — no explode, no
    shuffle before the final sort; at 100 TB this is a map-only stage."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (docs.select("doc_id", repetition_words_col())
           .select("doc_id", *repetition_metric_cols()))
    kept = (F.col("dup_word_frac") <= 0.3) \
        & (F.col("top_bigram_frac") <= 0.18)
    return out.withColumn("kept", kept).orderBy("doc_id")


ORACLE_REPETITION_FILTER = r"""
WITH w AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text,''))), '\s+') AS w
  FROM documents
), m AS (
  SELECT doc_id, len(w) AS nw,
         round((len(w) - len(list_distinct(w)))
               / greatest(len(w), 1)::double, 6) AS dup_word_frac,
         CASE WHEN len(w) >= 2 THEN
           list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i + 1]) END AS bg
  FROM w
)
SELECT doc_id, cast(nw AS int) AS n_words, dup_word_frac,
       CASE WHEN nw >= 2 THEN
         round(list_max(list_transform(list_distinct(bg),
               x -> len(list_filter(bg, y -> y = x))))
               / (nw - 1)::double, 6)
       ELSE 0.0 END :: double AS top_bigram_frac,
       (dup_word_frac <= 0.3 AND
        CASE WHEN nw >= 2 THEN
          round(list_max(list_transform(list_distinct(bg),
                x -> len(list_filter(bg, y -> y = x))))
                / (nw - 1)::double, 6)
        ELSE 0.0 END <= 0.18) AS kept
FROM m ORDER BY doc_id
"""


def _fold(arr):
    """0.0-seeded left fold (sum) of a double array — the one
    summation order of every exact dot and norm below (_py_norm is its
    driver-side twin)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def _dot(a, b):
    """Dot product of two numeric arrays, element products in double.
    A cast of an operand that is already double is optimized away, so
    callers over double arrays get the same plan as a cast-free fold."""
    return _fold(F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")))


def _norm(c):
    """L2 norm of a numeric array (the fold _qn_sql spells in SQL)."""
    return F.sqrt(_fold(F.transform(
        c, lambda x: x.cast("double") * x.cast("double"))))


def _cos_expr(a, b):
    """Shared exact-cosine Column expression (dot / norms, round 6)
    for bruteforce / IVF / PQ re-rank / neardup — kept in lockstep with
    its SQL twin _SQL_COS. ann_lsh_topk_over and semdedup_over
    pre-normalize in their checkpointed bases and pay one _dot."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _topk(df: DataFrame, key: str, score: str, tie: str,
          k: int) -> DataFrame:
    """The top-`k` rows per `key` by `score` DESC, ties to the lowest
    `tie` (the family's ranking), rank 1..k in column `rk`."""
    w = Window.partitionBy(key).orderBy(F.desc(score), F.asc(tie))
    return (df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def _probe_rows(probe_filter=None):
    """The query rows of an ANN operator: `probe_filter`, default every
    100th vec_id (the registry's probe set, ORACLE_ANN_* twin)."""
    return (probe_filter if probe_filter is not None
            else F.col("vec_id") % 100 == 0)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, JVM-side
    zip_with/aggregate dot products, window top-k. The IVF/LSH variant
    (q_ann_lsh) prunes candidates by bucket at scale."""
    # fan out the single-file scan: the n x queries cosine fold is
    # per-row CPU before any exchange and ran serial (r7 interleaved
    # A/B: 1.11-1.36 s -> 0.92-1.06 s at sf0.1)
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .repartition(spark.sparkContext.defaultParallelism))
    queries = emb.filter(_probe_rows()).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    sim = _cos_expr("embedding", "q_emb")
    pairs = (emb.crossJoin(F.broadcast(queries))
             .filter(F.col("vec_id") != F.col("q_id"))
             .select("q_id", "vec_id", sim.alias("cos_sim")))
    return _topk(pairs, "q_id", "cos_sim", "vec_id", 5).orderBy("q_id", "rk")


ORACLE_ANN_BRUTEFORCE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % 100 = 0
), pairs AS (
  SELECT q.q_id, e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_emb::DOUBLE[],
                                          q.q_emb::DOUBLE[]))), 6)
             AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cos_sim,
         cast(row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS int) AS rk
  FROM pairs
)
SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
ORDER BY q_id, rk
"""


# Seeded element-hash factories for the minhash transforms. MUST be
# single-parameter closures: a `lambda s, i=i:` spelling has TWO
# parameters, and PySpark passes binary HOF lambdas (element, index) —
# the array-position Column silently overrides the default, so every
# "seed" collapses to the element index (xxhash64 case) or to a literal
# containing the repr of an auto-named lambda variable whose
# session-global counter makes the hash NON-DETERMINISTIC across query
# conversions (md5 case). Caught r3 as a once-per-~10-runs flaky
# candidate pair at sf0.1; tests/test_spark_pipeline.py pins both
# properties (16 distinct hashes, conversion-independent values).
def _xxhash_fn(seed: int):
    lit = F.lit(seed)
    return lambda s: F.xxhash64(s, lit)


def _md5_fn(seed: int):
    lit = F.lit(f":{seed}")
    return lambda s: F.md5(F.concat(s, lit))


IVF_K = 16
IVF_NPROBE = 4
IVF_LLOYD_ITERS = 2
#: Embedding coordinates are quantized to round(x * 1e6) bigints for
#: Lloyd training: INTEGER sums are exact and order-independent, so
#: the trained centroids are bit-identical between Spark's partial
#: aggregation and DuckDB's — a double-sum centroid would be
#: order-dependent and break the value-hash oracle (the known
#: cross-engine double-sum hazard, CLAUDE.md). Cosine is
#: scale-invariant, so the un-normalized integer SUM of a cell's
#: members is exactly the spherical-k-means centroid direction — no
#: division, no doubles, no epsilon.
IVF_QUANT = 1_000_000


def _quantized():
    """The embedding column as IVF_QUANT-scaled bigints (`qe`), the
    integer image every IVF/PQ/SemDeDup trainer runs on."""
    return F.transform(F.col("embedding"),
                       lambda x: F.round(x.cast("double") * IVF_QUANT)
                       .cast("long"))


def _train_slice(df: DataFrame, frac: float | None) -> DataFrame:
    """Deterministic xxhash64(vec_id) training sample (the 10^12
    lever shared by IVF/PQ/IVF-PQ/SemDeDup), or all of `df` when
    `frac` is None."""
    if frac is None:
        return df
    return df.filter(F.pmod(F.xxhash64("vec_id"), F.lit(1_000_000))
                     < int(frac * 1_000_000))


def _require_pos_int(**knobs) -> None:
    """Raise unless every knob is an int >= 1. A 0 would silently
    return zero rows (slice(arr, 1, 0) is [], a rank cut `<= 0` keeps
    nothing), and a string from a JSON opts template would only
    surface as an opaque analysis error at plan time."""
    for name, v in knobs.items():
        if not isinstance(v, int) or isinstance(v, bool) or v < 1:
            raise ValueError(f"{name} must be an int >= 1, got {v!r}")


def _py_norm(vals) -> float:
    """Driver-side twin of the _norm fold: 0.0-seeded left fold
    of double(v)*double(v), then sqrt — the SAME IEEE-754 ops in the
    SAME order the JVM fold runs, so the result is bit-identical to
    evaluating the Column expression (int->double conversion, each
    product and each add round-to-nearest identically in CPython and
    the JVM)."""
    import math
    acc = 0.0
    for v in vals:
        d = float(v)
        acc += d * d
    return math.sqrt(acc)


def _cell_score_sql(q: str, cents, qn_sql: str | None = None) -> str:
    """SQL text for array<struct(s=c_sim, nc=-c_id, c=c_id)> of cell
    scores over DRIVER-LITERAL centroids — the shared ordering-key
    family for cell assignment and probe ranking: lexicographic struct
    comparison on (s, nc) is exactly "c_sim DESC, c_id ASC" (highest
    sim first, ties to the lowest c_id), the same key the former
    max_by/row_number formulations ordered by.

    Shapes that matter (measured at sf0.1, n=2000):
    - ONE generated SQL string parsed JVM-side: building the same tree
      Column-by-Column cost ~0.66 s of py4j round-trips PER LLOYD PASS
      (and k x 64 individual literal nodes pushed Catalyst planning to
      2.6-4.4 s/pass — the literal matrix here is one array literal);
    - centroid norms come from _py_norm (bit-identical driver floats),
      so the per-row work is k dot-folds, not k x (dot + 2 norm folds)
      (the query-norm fold re-evaluates per element — linear, cheap).
    c_sim = round(dot / (qnorm * cnorm), 6) with _cos_expr's exact
    sub-expressions and operand order (0.0D seeds, cast-to-double
    products, left folds), so values are bit-identical to the former
    broadcast-column evaluation (oracle-pinned both scales).

    `qn_sql` names a PRE-STORED query-norm column (semdedup_over and
    ann_ivf_over keep one in their checkpointed bases); default
    derives it from `q` inline (_qn_sql) — same formula, same value,
    just re-evaluated per element."""
    k = len(cents)
    cemb = "array(" + ",".join(
        "array(" + ",".join(f"{int(x)}L" for x in e) + ")"
        for _, e in cents) + ")"
    cid = "array(" + ",".join(f"{int(c)}L" for c, _ in cents) + ")"
    cn = "array(" + ",".join(
        f"cast('{_py_norm(e)!r}' as double)" for _, e in cents) + ")"
    qn = qn_sql if qn_sql is not None else _qn_sql(q)
    dotb = (f"aggregate(zip_with({q}, element_at({cemb}, i + 1), "
            "(x, y) -> cast(x as double) * cast(y as double)), "
            "0.0D, (acc, v) -> acc + v)")
    return (f"transform(sequence(0, {k - 1}), i -> named_struct("
            f"'s', round({dotb} / ({qn} * element_at({cn}, i + 1)), 6), "
            f"'nc', cast(-element_at({cid}, i + 1) as bigint), "
            f"'c', cast(element_at({cid}, i + 1) as bigint)))")


def _qn_sql(q: str) -> str:
    """SQL text of the query-norm fold over array column `q` — THE one
    spelling, shared by _cell_score_sql's inline default and the
    callers that pre-store it as a checkpoint column (so the stored
    and inline values are textually the same expression)."""
    return (f"sqrt(aggregate(transform({q}, "
            "x -> cast(x as double) * cast(x as double)), "
            "0.0D, (acc, v) -> acc + v))")


def _argmax_cell(qcol_name: str, cents, qn_sql: str | None = None):
    """Nearest-cell id by (c_sim DESC, c_id ASC) over literal
    centroids — row-local array_max, no join, no shuffle."""
    return F.expr(
        f"array_max({_cell_score_sql(qcol_name, cents, qn_sql)}).c")


def _ivf_train_cells(t: DataFrame, k: int, iters: int,
                     qn_sql: str | None = None
                     ) -> list[tuple[int, list[int]]]:
    """The Lloyd loop with centroids held DRIVER-SIDE as literals
    (k rows x 64 longs — the same bounded-collect class as the PQ
    codebook). Per pass, assignment is a map-only projection (argmax
    over k literal centroids) and the ONLY exchange is the k-group
    partial-aggregated integer sums — the former broadcast-crossJoin +
    groupBy(vec_id) formulation fanned every qe array k-ways through a
    corpus-wide shuffle per pass (guide §2.3: shuffle keys/metadata,
    not payloads). Values are bit-identical: same _cos_expr doubles,
    same (c_sim DESC, c_id ASC) argmax tie-break, same exact integer
    sums (order-independent), emptied cells keep their previous
    centroid."""
    init = (t.orderBy("vec_id").limit(k)
            .select(F.col("vec_id").alias("c_id"),
                    F.col("qe").alias("c_emb"))
            .collect())
    if len(init) < k:
        raise ValueError(f"training set has fewer than k={k} vectors "
                         "— the cell count would silently shrink "
                         "(pq_train raises on the same condition)")
    cents = [(int(r["c_id"]), [int(x) for x in r["c_emb"]])
             for r in init]
    dim = len(cents[0][1])
    # one generated SQL agg expression (array of per-dimension integer
    # sums) — 64 individually built F.sum Columns cost ~0.6 s of py4j
    # round-trips per pass. try_element_at: a member too short for a
    # position adds NULL there (as DuckDB's qe[i] does), where ANSI
    # element_at would fail the whole training job
    sum_sql = ("array(" + ",".join(
        f"sum(try_element_at(qe, {i + 1}))" for i in range(dim)) + ")")
    for _ in range(iters):
        sums = (t.select(_argmax_cell("qe", cents, qn_sql)
                         .alias("c_id"), "qe")
                .groupBy("c_id")
                .agg(F.expr(sum_sql).alias("new_emb"))
                .collect())
        # a NULL sum element (NULL/short qe at that position across
        # the whole cell) keeps the PREVIOUS centroid — the crash-free
        # degradation of the old join+coalesce formulation (r7 review)
        new = {int(r["c_id"]): [int(x) for x in r["new_emb"]]
               for r in sums
               if all(x is not None for x in r["new_emb"])}
        cents = [(c, new.get(c, e)) for c, e in cents]
    return cents


def ann_ivf_over(emb: DataFrame, k: int = IVF_K,
                 nprobe: int = IVF_NPROBE,
                 iters: int = IVF_LLOYD_ITERS,
                 train_frac: float | None = None,
                 topk: int = 5,
                 probe_filter=None) -> DataFrame:
    """IVF ANN over an embeddings-shaped DataFrame: Lloyd-trained
    coarse quantizer (_ivf_train_cells) + top-`topk` exact-cosine search
    within each probe's `nprobe` nearest cells. train_frac samples
    the training set (deterministic xxhash64(vec_id) slice — the
    10^12-scale path); probe_filter (default vec_id % 100 == 0)
    selects the query rows. CONTRACT: the probe set is broadcast to
    the search join (queries are assumed small relative to the
    corpus — the IVF usage shape); a probe_filter selecting a
    corpus-sized fraction should instead go through repeated calls
    or the LSH all-pairs operator, which shuffles both sides."""
    _require_pos_int(nprobe=nprobe, topk=topk)
    # quantized base feeds every Lloyd pass + the final assignment:
    # checkpoint once (same rationale as the LSH coded base). Fan out
    # first: a single-file scan is ONE partition, and every downstream
    # consumer (the per-pass argmax folds, the cell assignment, the
    # per-pair exact cosine) is per-row CPU that would otherwise run
    # serial (the q_substr_dedup scan-fan-out lesson). Confirmed by
    # interleaved A/B at sf0.1: 1.8-1.9 s vs 2.8-4.7 s — the Lloyd
    # passes re-read this checkpoint 3x, so the one-off fan-out
    # amortizes (unlike ann_lsh_topk_over, where the same fan-out
    # measured SLOWER — see its note). The stored `qn` column is
    # _qn_sql's fold materialized once, so per-pass scoring pays k
    # dot-folds only (not k re-folds of the query norm).
    emb = emb.repartition(emb.sparkSession.sparkContext
                          .defaultParallelism)
    base = (emb.select("vec_id", "embedding", _quantized().alias("qe"))
            .withColumn("qn", F.expr(_qn_sql("qe")))
            .localCheckpoint())
    cents = _ivf_train_cells(_train_slice(base, train_frac), k=k,
                             iters=iters, qn_sql="qn")
    # r7: centroids are driver literals (k x 64 longs), so cell
    # assignment and probe ranking are ROW-LOCAL array ops over the
    # checkpointed base — the former crossJoin + row_number window
    # shuffled (vec_id, embedding, c_sim, c_id) k-fanned-out TWICE
    # (once per consumer branch; 14 exchanges in the r6 plan, 6 now).
    # Ordering is the same (c_sim DESC, c_id ASC) key the window used;
    # values bit-identical (oracle-pinned at sf0.01 + sf0.1).
    # database side: every vector lives in exactly its nearest cell
    cells = base.select("vec_id", "embedding",
                        _argmax_cell("qe", cents, "qn").alias("c_id"))
    # probe side: each query visits its `nprobe` nearest cells — the
    # full rank sort runs only on the filtered probe rows
    top_cells = F.expr(
        "transform(slice(sort_array("
        f"{_cell_score_sql('qe', cents, 'qn')}, "
        f"false), 1, {nprobe}), s -> s.c)")
    probes = (base.filter(_probe_rows(probe_filter))
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_emb"),
                      F.explode(top_cells).alias("q_cell")))
    pairs = (cells.join(F.broadcast(probes),
                        (F.col("c_id") == F.col("q_cell"))
                        & (F.col("vec_id") != F.col("q_id")))
             .select("q_id", "vec_id",
                     _cos_expr(F.col("embedding"), F.col("q_emb"))
                     .alias("cos_sim")))
    return _topk(pairs, "q_id", "cos_sim", "vec_id",
                 topk).orderBy("q_id", "rk")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the brief's named scale path alongside LSH):
    coarse-quantize every vector to its nearest of IVF_K=16 centroids
    TRAINED by IVF_LLOYD_ITERS=2 deterministic Lloyd iterations
    (_ivf_train_cells — integer-sum spherical k-means, cross-engine
    exact), then search top-5 within each probe's IVF_NPROBE=4 nearest
    cells. r6: K 8->16 with Lloyd raised pinned recall@5 at sf0.01
    from 0.56 to 0.72 at the SAME ~25% searched fraction (untrained
    K=16/np=4 sits at 0.48 — the training is load-bearing; recall on
    these near-uniform vectors tracks searched fraction, so finer
    cells only pay off once centroids fit the data). Centroids are
    K driver-side literal rows (r7), assignment/probe ranking are
    row-local array argmax/sort over them — no assignment shuffle —
    and the search join is an equi-join on cell id — candidates per
    probe shrink by ~nprobe/K, the whole point of IVF at 10^12
    vectors (where the Lloyd loop runs on a SAMPLE — ann_ivf_over's
    train_frac; the registry tables ARE the sample, so it trains on
    the full base here). Same output schema as q_ann_bruteforce for
    recall comparison."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_ivf_over(emb)


_SQL_COS = ("round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
            " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
            " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)")

def _ivf_oracle_sql() -> str:
    """ORACLE_ANN_IVF composed with the SAME Lloyd loop the Spark plan
    runs — each iteration unrolls to assign/sum/update CTEs, integer
    centroid sums exactly as in q_ann_ivf (order-independent, so the
    trained centroids are bit-identical cross-engine)."""
    ctes = [f"""base AS (
  SELECT vec_id, embedding,
         list_transform(embedding::DOUBLE[],
                        x -> cast(round(x * {IVF_QUANT}) AS bigint)) AS qe
  FROM embeddings
), c0 AS (
  -- init = the K lowest vec_ids, STRUCTURALLY matching _ivf_train_cells'
  -- orderBy(vec_id).limit(k) (not WHERE vec_id < K, which coincides
  -- only while vec_ids are contiguous from 0 — a regenerated or
  -- filtered corpus would silently diverge the trained seeds)
  SELECT vec_id AS c_id, qe AS c_emb FROM base ORDER BY vec_id
  LIMIT {IVF_K}
)"""]
    prev = "c0"
    for it in range(IVF_LLOYD_ITERS):
        a, s, c = f"a{it}", f"s{it}", f"c{it + 1}"
        ctes.append(f"""{a} AS (
  SELECT vec_id, qe, c_id FROM (
    SELECT b.vec_id, b.qe, c.c_id,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY {_SQL_COS.format(a='b.qe', b='c.c_emb')} DESC,
                      c.c_id ASC) AS r
    FROM base b CROSS JOIN {prev} c) WHERE r = 1
)""")
        ctes.append(f"""{s} AS (
  SELECT c_id, list(cast(s AS bigint) ORDER BY i) AS new_emb FROM (
    SELECT c_id, g.i, sum(qe[g.i]) AS s
    FROM {a}, generate_series(1, 64) g(i)
    GROUP BY c_id, g.i)
  GROUP BY c_id
)""")
        ctes.append(f"""{c} AS (
  SELECT p.c_id, coalesce(s.new_emb, p.c_emb) AS c_emb
  FROM {prev} p LEFT JOIN {s} s ON p.c_id = s.c_id
)""")
        prev = c
    ctes.append(f"""scored AS (
  SELECT b.vec_id, b.embedding, b.qe, c.c_id,
         {_SQL_COS.format(a='b.qe', b='c.c_emb')} AS c_sim
  FROM base b CROSS JOIN {prev} c
), cellsr AS (
  SELECT vec_id, embedding, c_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c_sim DESC, c_id ASC) AS r
  FROM scored
), cells AS (
  SELECT vec_id, embedding, c_id FROM cellsr WHERE r = 1
), q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, c_id AS q_cell
  FROM cellsr WHERE vec_id % 100 = 0 AND r <= {IVF_NPROBE}
), pairs AS (
  SELECT q.q_id, e.vec_id,
         {_SQL_COS.format(a='e.embedding', b='q.q_emb')} AS cos_sim
  FROM cells e JOIN q ON e.c_id = q.q_cell AND e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cos_sim,
         cast(row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS int) AS rk
  FROM pairs
)""")
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT q_id, vec_id, cos_sim, rk FROM ranked "
              "WHERE rk <= 5\nORDER BY q_id, rk")


ORACLE_ANN_IVF = _ivf_oracle_sql()


# ---------------------------------------------------------- SemDeDup

SEMDEDUP_TAU = 0.95


def semdedup_over(emb: DataFrame, k: int = IVF_K,
                  iters: int = IVF_LLOYD_ITERS,
                  tau: float = SEMDEDUP_TAU,
                  train_frac: float | None = None,
                  nprobe: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al., 'SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication', arXiv:2303.09540):
    semantic near-dup removal by embedding clustering — cluster with
    the shared Lloyd trainer (_ivf_train_cells, deterministic spherical
    k-means over quantized integers), then compute exact pairwise
    cosine ONLY within each cluster and drop members of any
    similarity-connected group above `tau`, keeping the member
    FARTHEST from its centroid (the paper's low-centroid-similarity
    criterion: edge examples carry more training signal; ties break
    to the lowest vec_id).

    Spark shape: `k` is THE scale lever — pair cost is sum of squared
    cluster sizes, so at 10^8+ vectors k grows toward ~sqrt(n) (the
    paper runs 50k clusters on LAION-440M; train on a sample via
    `train_frac` as ann_ivf_over does). Assignment streams n*k
    rows through a partial-aggregable max_by — the broadcast nested-
    loop join keeps row locality, so map-side combine collapses to
    one row per vector BEFORE the shuffle; at k >= ~10^4 that stream
    itself dominates and a two-level quantizer (assign to sqrt(k)
    coarse cells, then within the winner's children) is the standard
    escalation. The within-cluster self-join reuses the LSH skew
    machinery (_salted_bucket_pairs keyed on the cell id): a hot
    cluster's n^2 single task becomes LSH_SALT parallel tasks, output
    identical. `nprobe` > 1 melts each vector into its top-nprobe
    cells for the pair join only (keep rule stays top-1): the
    algorithm's inherent misses — twin pairs straddling a Lloyd cell
    boundary — get compared in a shared runner-up cell, at ~nprobe^2
    pair cost (measured on the 100k planted-twin soak: collapse
    0.849 -> 0.995 at nprobe=2). Duplicate groups are
    the CONNECTED COMPONENTS of the >tau graph (Kiveris star CC,
    O(log n) rounds) — transitive closure is slightly more
    aggressive than the paper's greedy per-cluster matrix scan on
    similarity CHAINS (a~b~c with a!~c keeps 1, greedy may keep 2),
    and is chosen because it is arrival-order-independent, which the
    corpus-global resume contract requires (run.py re-derives the
    decision set after a crash; a greedy scan's survivors depend on
    intra-cluster enumeration order).

    Input (vec_id long, embedding array<numeric>); returns one row
    per vec_id: (vec_id, c_id, c_sim, keep_id, is_kept)."""
    # nprobe=0 would silently degrade to the top-1 path (the
    # mitigation the caller asked for never runs)
    _require_pos_int(nprobe=nprobe)
    qe = _quantized()
    # pre-normalized doubles + the quantized-vector norm in the ONE
    # checkpointed base: the k-way assignment and the within-cluster
    # pair join then pay 1 dot each instead of dot + 2 norms (the
    # ann_lsh_topk_over lesson — measured 129 s -> see BASELINE.md)
    base = (emb.select(
        "vec_id", qe.alias("qe"),
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")
                    / _norm(F.col("embedding"))).alias("ne"),
        _norm(qe).alias("qn"))
        .localCheckpoint())
    cents = _ivf_train_cells(_train_slice(base, train_frac), k=k,
                             iters=iters, qn_sql="qn")
    # r7: centroids are driver literals (the q_ann_ivf rewrite), so
    # assignment/probe ranking are ROW-LOCAL array ops over the
    # checkpointed base, scored against the STORED qn and _py_norm
    # centroid norms — the former broadcast-crossJoin streamed n*k
    # rows (each carrying qe + ne) through a groupBy(vec_id) /
    # row_number window shuffle. Same (sim DESC, c_id ASC) ordering,
    # same rounded doubles — assignment identical.
    score_sql = _cell_score_sql("qe", cents, qn_sql="qn")
    if nprobe <= 1:
        # top-1 assignment via array_max: row-local, no shuffle
        assigned = (base
                    .select("vec_id", "ne",
                            F.expr(f"array_max({score_sql})")
                            .alias("_m"))
                    .select("vec_id", "ne",
                            F.col("_m.c").alias("c_id"),
                            F.col("_m.s").alias("c_sim"))
                    # feeds the pair join (both sides via _salted_
                    # bucket_pairs' three consumers) AND the final
                    # keep join — without this the k-way scoring
                    # recomputes per consumer (the LSH coded-base
                    # lesson)
                    .localCheckpoint())
        melt = assigned.select("vec_id",
                               F.col("ne").alias("embedding"),
                               F.col("c_id").alias("bucket"))
    else:
        # boundary mitigation: melt each vector into its top-nprobe
        # cells for the PAIR JOIN only (the keep rule still uses the
        # top-1 cell) — twins straddling a Lloyd boundary meet in a
        # shared runner-up cell. Pair cost scales ~nprobe^2; the
        # rank is a row-local sort of k literal-scored structs.
        ranked = (base
                  .select("vec_id", "ne",
                          F.posexplode(F.expr(
                              f"slice(sort_array({score_sql}, false), "
                              f"1, {nprobe})")).alias("_r0", "_st"))
                  .select("vec_id", "ne",
                          F.col("_st.c").alias("c_id"),
                          F.col("_st.s").alias("sim"),
                          (F.col("_r0") + 1).alias("r"))
                  .localCheckpoint())
        assigned = (ranked.filter(F.col("r") == 1)
                    .select("vec_id", "ne", "c_id",
                            F.col("sim").alias("c_sim")))
        melt = ranked.select("vec_id", F.col("ne").alias("embedding"),
                             F.col("c_id").alias("bucket"))
    joined = _salted_bucket_pairs(melt, lambda a, c: a < c)
    edges = (joined.select(
        F.col("a.vec_id").alias("s"), F.col("c.vec_id").alias("t"),
        F.round(_dot(F.col("a.embedding"), F.col("c.embedding")), 6)
        .alias("cos_sim"))
        .filter(F.col("cos_sim") > tau)
        .select("s", "t"))
    if nprobe > 1:
        # a pair sharing >=2 of each other's probe cells meets more
        # than once; CC tolerates duplicate edges, but dedup keeps the
        # star rounds' shuffles lean
        edges = edges.distinct()
    labels, _ = connected_components(edges)
    comp = (assigned.select("vec_id", "c_id", "c_sim")
            .join(labels.withColumnRenamed("node", "vec_id"),
                  "vec_id", "left")
            # singletons (no >tau edge) are their own component
            .withColumn("component",
                        F.coalesce("component", F.col("vec_id"))))
    keep = comp.groupBy("component").agg(
        F.min_by("vec_id", F.struct(F.col("c_sim"), F.col("vec_id")))
        .alias("keep_id"))
    return (comp.join(keep, "component")
            .select("vec_id", "c_id", "c_sim", "keep_id",
                    (F.col("vec_id") == F.col("keep_id"))
                    .alias("is_kept")))


# --------------------------------------------------------------- PQ ANN

PQ_SUBSPACES = 4       # M: 64 dims -> 4 x 16-dim subvectors
PQ_CODES = 16          # K per subspace -> one code = 4 bits * 4 = 2B/vec
PQ_ITERS = 2


def _subspace_width(subspaces: int) -> int:
    """Dims per PQ subspace; raises unless `subspaces` divides 64."""
    if 64 % subspaces:
        raise ValueError(f"subspaces={subspaces} must divide 64 "
                         "(trailing dims would be silently dropped)")
    return 64 // subspaces


def pq_train(base: DataFrame, subspaces: int = PQ_SUBSPACES,
             codes: int = PQ_CODES, iters: int = PQ_ITERS,
             train: DataFrame | None = None) -> list:
    """Deterministic per-subspace k-means codebooks over a quantized
    base (vec_id, qe array<long>): completes the classical ANN triad
    beside LSH (ann_lsh_topk_over) and IVF (ann_ivf_over) — Jegou et
    al., 'Product Quantization for Nearest Neighbor Search', IEEE
    TPAMI 2011. Init = the `codes` lowest vec_ids' subvectors; each
    Lloyd pass reassigns by L2 argmin (min_by, ties toward the lowest
    code id) and replaces a code with the elementwise FLOOR-MEAN of
    its members — floor keeps the codebook in exact integers, so
    training is order-independent and bit-stable across partitionings
    (the IVF integer-sum discipline adapted to L2, where plain sums
    would break the argmin's scale). All subspaces train in ONE
    assignment pass per iteration (code rows keyed (m, c_id) — a
    64-row broadcast, not a per-subspace loop).

    Returns the codebook as a driver-side nested list
    [m][c_id][dim] of ints — M*K*(64/M) values (~4 KB), the one
    legitimate collect (it becomes literal arrays in the encode/score
    projections, exactly like the LSH hyperplane literals).
    `train` samples the Lloyd input at scale (_train_slice)."""
    sub = _subspace_width(subspaces)
    t = train if train is not None else base
    init = (t.orderBy("vec_id").limit(codes).collect())
    if len(init) < codes:
        raise ValueError(f"training set has {len(init)} vectors, "
                         f"fewer than codes={codes} — the codebook "
                         "would silently shrink")
    book = [[list(r["qe"][m * sub:(m + 1) * sub]) for r in init]
            for m in range(subspaces)]
    for _ in range(iters):
        # r7: assignment is ROW-LOCAL — _pq_code_col's L2 argmin over
        # the codebook literal (array_position of min distance = FIRST
        # min = lowest code id, the same min_by(c, struct(d2, c))
        # tie-break the former formulation used, its own docstring
        # contract). The former explode of all (m, c) combos shuffled
        # n x M*K rows each carrying the FULL qe array through a
        # groupBy(vec_id, m); now only n x M rows of (m, c, subvector)
        # reach the (m, c) partial agg — 1/K the rows, 1/M the bytes
        # per row, identical integer floor-mean stats.
        code_col = _pq_code_col(_pq_book_lit(book), sub)
        stats = (t.select("qe", F.posexplode(code_col)
                          .alias("m", "c1"))
                 .select("m", (F.col("c1") - 1).alias("c"),
                         F.slice("qe", F.col("m") * sub + 1, sub)
                         .alias("sv"))
                 .groupBy("m", "c")
                 .agg(F.count("*").alias("n"),
                      F.array(*[F.sum(F.try_element_at(
                          "sv", F.lit(i + 1))) for i in range(sub)])
                      .alias("s"))
                 .collect())
        # try_element_at: a member too short for a position adds NULL
        # there (the _ivf_train_cells rule), where ANSI element_at
        # would fail the whole training job. A (subspace, code) whose
        # sum reads NULL anywhere, or the NULL code such a member
        # scores, keeps its PREVIOUS code
        for r in stats:
            if r["n"] and r["c"] is not None and None not in r["s"]:
                book[r["m"]][r["c"]] = [
                    int(v // r["n"]) for v in r["s"]]
    return book


def _pq_book_lit(book):
    """Codebook nested list -> literal array<array<array<long>>>.
    ONE nested Literal node (r7) — building it as M*K*sub individual
    F.lit nodes made Catalyst planning the bottleneck for every
    encode/LUT projection (the q_ann_ivf centroid-literal lesson)."""
    return F.lit([[[int(v) for v in c] for c in bm] for bm in book])


def _pq_code_col(book_lit, sub: int, src="qe"):
    """array<int> of 1-based per-subspace code ids: L2 argmin over
    the codebook literals — array_position of the min distance =
    FIRST occurrence = lowest code id, matching training's
    tie-break."""
    dists = F.transform(
        book_lit,
        lambda cb, m: F.transform(
            cb, lambda c: F.aggregate(
                F.zip_with(F.slice(src, m * sub + 1, sub), c,
                           lambda x, cc: (x - cc) * (x - cc)),
                F.lit(0).cast("long"), lambda acc, v: acc + v)))
    return F.transform(
        dists, lambda d: F.array_position(d, F.array_min(d))
        .cast("int"))


def _dequant_dot(q, c):
    """dot(query, integer center / IVF_QUANT): one ADC table entry."""
    return _fold(F.zip_with(q, c, lambda x, cc: x.cast("double")
                            * (cc.cast("double") / IVF_QUANT)))


def _pq_lut_col(book_lit, sub: int, src="embedding"):
    """Per-query ADC lookup table: dot(query subvector, dequantized
    code center) for every (m, c) — M*K doubles, broadcast-sized."""
    return F.transform(
        book_lit,
        lambda cb, m: F.transform(
            cb, lambda c: _dequant_dot(F.slice(src, m * sub + 1, sub), c)))


def _adc_score():
    """ADC's approximate dot: the sum over subspaces of the probe's
    `lut` entry at the candidate's `pq` code."""
    return _fold(F.zip_with(F.col("lut"), F.col("pq"),
                            lambda l, c: F.element_at(l, c)))


def _exact_rerank(short: DataFrame, base: DataFrame,
                  probes: DataFrame, topk: int) -> DataFrame:
    """Shared PQ/IVF-PQ tail: fetch embeddings for the (q_id, vec_id)
    shortlist only, broadcast-join the probe embeddings back, exact
    cosine, top-`topk` per query (desc cos, asc vec_id — the family
    tie-break). `probes` must carry (q_id, q_emb), one row per q_id."""
    exact = (short.join(base.select("vec_id", "embedding"), "vec_id")
             .join(F.broadcast(probes.select("q_id", "q_emb")
                               .dropDuplicates(["q_id"])), "q_id")
             .select("q_id", "vec_id",
                     _cos_expr(F.col("embedding"), F.col("q_emb"))
                     .alias("cos_sim")))
    return _topk(exact, "q_id", "cos_sim", "vec_id",
                 topk).orderBy("q_id", "rk")


def ann_pq_topk_over(emb: DataFrame, subspaces: int = PQ_SUBSPACES,
                     codes: int = PQ_CODES, iters: int = PQ_ITERS,
                     train_frac: float | None = None,
                     topk: int = 5, rerank: int = 16,
                     probe_filter=None) -> DataFrame:
    """PQ ANN: encode every vector as `subspaces` small codes
    (M log2 K bits — 2 BYTES per vector at the defaults, vs 512 for
    the raw floats: at 10^12 vectors the codes table is 2 TB where
    the embeddings are 512 TB, THE reason PQ exists), score probe
    candidates by asymmetric distance (per-query lookup table of
    query-subvector x code dots — approx dot = sum of M lookups,
    Jegou et al. ADC), keep each probe's top `rerank*topk` by ADC,
    then re-rank those few by exact cosine (the standard PQ+re-rank
    shape; the id-only melt lesson — embeddings are only fetched for
    the shortlist). Same output schema as q_ann_bruteforce/
    q_ann_ivf: (q_id, vec_id, cos_sim, rk <= topk).

    The scored join is codes-table x broadcast(probe LUTs): the
    corpus side moves M ints per row, never the embedding. Measured
    at sf0.01 against exact truth (uniform vectors, ANN's hardest
    case): recall@5 by rerank depth 0.12 (ADC only) / 0.40 (0.4%
    exact-searched) / 0.60 (0.8%) / 0.76 (1.6%, the default) / 0.84
    (3.2%) — the ADC pass touches every code row with M cheap
    lookups, the exact pass only the shortlist; IVF spends 25% exact
    for 0.72 on the same data, which is the PQ trade in one line."""
    _require_pos_int(topk=topk, rerank=rerank)
    sub = _subspace_width(subspaces)
    base = (emb.select("vec_id", "embedding", _quantized().alias("qe"))
            .localCheckpoint())
    book = pq_train(base, subspaces=subspaces, codes=codes,
                    iters=iters, train=_train_slice(base, train_frac))
    book_lit = _pq_book_lit(book)
    coded = (base.select("vec_id",
                         _pq_code_col(book_lit, sub).alias("pq"))
             .localCheckpoint())
    probes = (base.filter(_probe_rows(probe_filter))
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_emb"),
                      _pq_lut_col(book_lit, sub).alias("lut"))
              .localCheckpoint())  # tiny; scored join + rerank reuse it
    # scored rows carry only (q_id, vec_id, adc) through the window
    # shuffle — the 64-double q_emb rides the tiny probe table and is
    # re-joined AFTER the shortlist cut (r6 review: carrying it on
    # every candidate row was ~20x the shuffle bytes)
    short = (coded.crossJoin(F.broadcast(probes.select("q_id", "lut")))
             .filter(F.col("vec_id") != F.col("q_id"))
             .select("q_id", "vec_id", _adc_score().alias("adc")))
    short = _topk(short, "q_id", "adc", "vec_id",
                  rerank * topk).select("q_id", "vec_id")
    return _exact_rerank(short, base, probes, topk)


def ann_ivfpq_topk_over(emb: DataFrame, cells: int = 16,
                        cell_iters: int = 2,
                        subspaces: int = PQ_SUBSPACES,
                        codes: int = PQ_CODES, iters: int = PQ_ITERS,
                        nprobe: int = 4,
                        train_frac: float | None = None,
                        topk: int = 5, rerank: int = 16,
                        probe_filter=None) -> DataFrame:
    """IVF-PQ (Jegou et al.'s IVFADC — the composition production
    ANN systems actually run at 10^12 vectors, e.g. FAISS
    IndexIVFPQ): an IVF coarse quantizer prunes candidates to the
    query's `nprobe` nearest of `cells` cells, and within the probed
    cells candidates are scored by PQ ADC over 2-byte codes of the
    CELL RESIDUAL (qe - cell center — residuals are smaller than raw
    vectors, so the same code budget quantizes finer; they stay
    exact integers because both terms are). approx dot(q, x) =
    dot(q, center_cell) + sum_m lut[m][code_m], one shared residual
    codebook across cells (classic IVFADC). Exact cosine re-ranks
    only the shortlist.

    vs the flat operators: PQ alone ADC-scans EVERY code row per
    query; IVF alone pays exact cosines for everything in the probed
    cells. IVF-PQ scans only the probed cells and only with
    lookups — candidate volume * nprobe/cells AND bytes/candidate
    both bounded, which is the 10^12 shape. Cell centers and
    residual codebooks both train through pq_train's deterministic
    integer floor-mean k-means (cells = one 'subspace' spanning all
    64 dims), so the whole index is bit-stable."""
    _require_pos_int(nprobe=nprobe, topk=topk, rerank=rerank)
    sub = _subspace_width(subspaces)
    base = (emb.select("vec_id", "embedding", _quantized().alias("qe"))
            .localCheckpoint())
    # coarse cells: a single 'subspace' spanning all 64 dims gives
    # exactly a 64-dim L2 floor-mean codebook of `cells` centers
    cbook = pq_train(base, subspaces=1, codes=cells, iters=cell_iters,
                     train=_train_slice(base, train_frac))
    cbook_lit = _pq_book_lit(cbook)
    center_lit = F.element_at(cbook_lit, 1)  # array<array<long>>
    cell_col = F.element_at(_pq_code_col(cbook_lit, 64), 1)
    # only (vec_id, cell, qr) are consumed downstream — embedding/qe
    # ride `base`'s checkpoint; materializing them again here would
    # ~2.5x the corpus-scale snapshot (the annotate_wat footprint
    # lesson, r6 review)
    assigned = (base
                .withColumn("cell", cell_col)
                .withColumn("qr", F.zip_with(
                    "qe", F.element_at(center_lit, F.col("cell")),
                    lambda x, c: x - c))
                .select("vec_id", "cell", "qr")
                .localCheckpoint())
    resid = assigned.select("vec_id", F.col("qr").alias("qe"))
    rbook = pq_train(resid, subspaces=subspaces, codes=codes, iters=iters,
                     train=_train_slice(resid, train_frac))
    rbook_lit = _pq_book_lit(rbook)
    coded = (assigned.select(
        "vec_id", "cell",
        _pq_code_col(rbook_lit, sub, "qr").alias("pq"))
        .localCheckpoint())
    # probe side: dot(q, every cell center) ranks the cells; the
    # residual LUT is computed ONCE per query (shared codebook)
    cdots = F.transform(
        center_lit, lambda c: _dequant_dot(F.col("embedding"), c))
    probes0 = (base.filter(_probe_rows(probe_filter))
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_emb"),
                       cdots.alias("cdots"),
                       _pq_lut_col(rbook_lit, sub).alias("lut")))
    pe = probes0.select("q_id", "q_emb", "lut",
                        F.posexplode("cdots").alias("c0", "cdot"))
    probes = (_topk(pe, "q_id", "cdot", "c0", nprobe)
              .select("q_id", "q_emb", "lut", "cdot",
                      (F.col("c0") + 1).alias("q_cell"))
              .localCheckpoint())  # tiny: queries x nprobe rows
    adc = F.col("cdot") + _adc_score()
    # the equi-join on cell is the IVF pruning: candidates shrink by
    # ~nprobe/cells, and each carries only (cell, 4 codes)
    short = (coded.join(
        F.broadcast(probes.select("q_id", "q_cell", "cdot", "lut")),
        coded["cell"] == F.col("q_cell"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc")))
    short = _topk(short, "q_id", "adc", "vec_id",
                  rerank * topk).select("q_id", "vec_id")
    return _exact_rerank(short, base, probes, topk)


#: Identity of the band kernel below — STAMPED into every persisted
#: dedup index (job.build_dedup_index) and VERIFIED on read
#: (dedup_against): band keys are meaningless across kernel versions
#: (different seeds/band split would silently drop near-dup recall to
#: ~0 with every doc 'kept'). Bump when the kernel changes.
MINHASH_KERNEL_ID = "shingle3-xxhash16-band4x4-v1"


def minhash_band_melt(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, text) -> melted (id, band, bucket) LSH band keys:
    word-3-shingles -> 16 seeded-xxhash minhashes -> 4 bands of 4 ->
    xxhash64 bucket per band. Signatures are row-local (the shingle
    array stays inside the row; each minhash is array_min(transform))
    — ZERO shuffle before any band join (vs explode+groupBy-min, which
    shuffles every shingle of the corpus: ~10x the corpus text at
    100 TB vs 16 longs/doc here). Docs under 3 words have no shingles
    and emit no rows. THE one xxhash band kernel — shared by batch
    q_dedup_minhash and streaming stream_neardup, whose near-dup keys
    must agree (r5 review: was copy-pasted in both)."""
    words = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+")
    d = df.select(F.col(id_col), words.alias("w")).filter(F.size("w") >= 3)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("w") - 3),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)))
    sig = d.select(id_col, shingles.alias("sh")).select(
        id_col,
        *[F.array_min(F.transform("sh", _xxhash_fn(i))).alias(f"h{i}")
          for i in range(16)])
    return (sig.select(id_col, F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"h{b * 4 + j}") for j in range(4)])
                 .alias("bucket"))
        for b in range(4)])).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket")))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: the shared xxhash band kernel
    (minhash_band_melt) + band-bucket self-join. All JVM-side; the only
    shuffles are the doc-level agg and the band self-join. Approximate
    by construction -> rows-only driver check."""
    # single parquet file => the 16-minhash melt (per-row CPU before
    # any exchange) runs on 1-4 partitions; fan out first (the
    # q_substr_dedup scan-fan-out lesson — r7 interleaved A/B:
    # 1.48-1.65 s -> 1.09-1.18 s at sf0.1)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(spark.sparkContext.defaultParallelism))
    # materialize once — the self-join recomputes the 16-minhash
    # pipeline on both sides otherwise (same as the md5 twin)
    allb = minhash_band_melt(docs).localCheckpoint()
    left = allb.alias("a")
    right = allb.alias("b")
    pairs = (left.join(right, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct()
             .orderBy("doc_a", "doc_b"))
    return pairs


def _minhash_md5_candidates(docs: DataFrame) -> DataFrame:
    """Shared LSH filter stage: (doc_id, text) -> distinct candidate
    pairs (doc_a < doc_b) sharing a band bucket. 16 md5 minhashes,
    4 bands of 4; signatures are row-local (array_min over the in-row
    shingle array) — no shingle explode/shuffle before the band join."""
    words = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+")
    d = docs.select("doc_id", words.alias("w")).filter(F.size("w") >= 3)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("w") - 3),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)))
    sig = d.select(
        "doc_id", shingles.alias("sh"),
    ).select(
        "doc_id",
        *[F.array_min(F.transform("sh", _md5_fn(i))).alias(f"h{i}")
          for i in range(16)])
    # NOTE (r7, measured): keep the 4-way unionByName melt. An
    # explode-based single-pass melt (the minhash_band_melt shape) was
    # tried and is ~50% SLOWER here: it fuses all 16
    # array_min(transform(md5)) HOFs into ONE projection, which falls
    # out of whole-stage codegen, while each union branch (4 HOFs via
    # column pruning) stays compiled — the 4x shingle-construction
    # duplication is cheaper than losing codegen on the md5 work.
    bands = []
    for b in range(4):
        cols = [F.col(f"h{b * 4 + j}") for j in range(4)]
        bands.append(sig.select(
            "doc_id", F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *cols)).alias("bucket")))
    allb = bands[0]
    for b in bands[1:]:
        allb = allb.unionByName(b)
    # materialize band-bucket rows once: the self-join would recompute
    # the whole shingle->16-minhash pipeline on BOTH sides (same
    # rationale as the ANN melt checkpoint; at scale the signature
    # table is persisted before the join anyway)
    allb = allb.localCheckpoint()
    left, right = allb.alias("a"), allb.alias("c")
    return (left.join(right, (F.col("a.band") == F.col("c.band"))
                      & (F.col("a.bucket") == F.col("c.bucket"))
                      & (F.col("a.doc_id") < F.col("c.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("c.doc_id").alias("doc_b"))
            .distinct())


def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with md5-string min hashing: engine-portable, so the
    FULL candidate-pair output is oracle-verified (the xxhash64 variant
    q_dedup_minhash is the faster production path). 16 minhashes,
    4 bands of 4, band-bucket equi-join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _minhash_md5_candidates(docs).orderBy("doc_a", "doc_b")


def _minhash_md5_parts(source: str = "documents") -> tuple[str, str]:
    """Candidate-pair oracle as composable pieces: (cte_defs, pair_select).

    cte_defs = the CTE definitions WITHOUT the leading ``WITH`` (so a
    caller can prepend ``WITH`` / ``WITH RECURSIVE`` and append more
    CTEs); pair_select = the final SELECT of (doc_a, doc_b) WITHOUT an
    ORDER BY. Downstream oracles (components, jaccard, dedup pipeline)
    compose these structurally — no string surgery on a finished query
    (ADVICE r3). `source` is the (doc_id, text) relation to shingle —
    ``documents`` or an upstream CTE like the pipeline's ``reps``."""
    mins = ",\n         ".join(
        f"min(md5(sh || ':{i}')) AS h{i}" for i in range(16))
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        f"md5(h{b*4} || '|' || h{b*4+1} || '|' || h{b*4+2} || '|' || h{b*4+3})"
        f" AS bucket FROM sig" for b in range(4))
    cte_defs = rf"""d AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text,''))), '\s+') AS w
  FROM {source}
), dd AS (
  SELECT doc_id, w FROM d WHERE len(w) >= 3
), sh AS (
  -- enumerate ALL shingle starts (1..len(w)-2) per doc; no fixed cap,
  -- so the oracle cannot silently diverge from Spark's full
  -- sequence(0, size(w)-3) when fixtures grow
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
                i -> array_to_string(list_slice(w, i, i+2), ' '))) AS sh
  FROM dd
), sig AS (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
), bands AS (
{bands}
)"""
    pair_select = """SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
FROM bands a JOIN bands c
  ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id"""
    return cte_defs, pair_select


def _minhash_md5_oracle() -> str:
    cte_defs, pair_select = _minhash_md5_parts()
    return f"\nWITH {cte_defs}\n{pair_select}\nORDER BY doc_a, doc_b\n"


ORACLE_DEDUP_MINHASH_MD5 = _minhash_md5_oracle()
ORACLE_DEDUP_PIPELINE = _dedup_pipeline_oracle()


def connected_components(pairs: DataFrame, s: str = "s", t: str = "t",
                         max_rounds: int = 24) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log n) rounds on ANY
    graph vs O(diameter) for plain min-label propagation, so a
    pathological chain of near-dups (long path graph) cannot blow the
    round budget. Per round: one groupBy-min + one join per phase, all
    shuffles on the node id; localCheckpoint cuts lineage. Returns
    (labels(node, component=min node id), rounds_used)."""
    # parent-pointer representation: every edge stored u > v
    edges = (pairs.select(F.col(s).cast("long").alias("a"),
                          F.col(t).cast("long").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .select(F.greatest("a", "b").alias("u"),
                     F.least("a", "b").alias("v"))
             .distinct().localCheckpoint())
    nodes = (edges.select(F.col("u").alias("node"))
             .unionAll(edges.select(F.col("v").alias("node")))
             .distinct().localCheckpoint())
    prev_sig = None
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # large-star: center u over the SYMMETRIZED neighborhood; every
        # strictly-larger neighbor hooks to min(N(u) ∪ {u})
        sym = edges.unionAll(edges.select(F.col("v").alias("u"),
                                          F.col("u").alias("v")))
        lmin = (sym.groupBy("u").agg(F.min("v").alias("m"))
                .select("u", F.least("u", "m").alias("m")))
        large = (sym.join(lmin, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # small-star: edges already point u -> smaller v; all smaller
        # neighbors (and u itself) hook to the minimum
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (large.join(smin, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .unionAll(smin)
                 .distinct().localCheckpoint())
        # order-insensitive edge-set fingerprint; bit_xor cannot
        # overflow (ANSI mode rejects a plain sum of xxhash64)
        sig = tuple(small.agg(
            F.count("*"),
            F.expr("bit_xor(xxhash64(u, v))")).collect()[0])
        if sig == prev_sig:
            break
        prev_sig = sig
        edges = small
    else:
        # Kiveris et al.'s bound is O(log^2 n) WORST case, not O(log n):
        # exhausting the budget without a fixpoint means the labels may
        # be wrong — surface it loudly instead of returning silently
        # (ADVICE r4)
        import warnings
        warnings.warn(
            f"connected_components: no fixpoint after {max_rounds} "
            "rounds — labels may be unconverged; raise max_rounds",
            RuntimeWarning, stacklevel=2)
    # fixed point = disjoint stars centered at each component's min
    labels = (nodes.join(edges.select(F.col("u").alias("node"),
                                      F.col("v").alias("root")),
                         "node", "left")
              .select("node",
                      F.coalesce("root", "node").alias("component")))
    return labels, rounds


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup candidate graph — the
    GROUPING stage of a fuzzy-dedup pipeline (pairs alone don't dedup;
    the keep-one-per-group decision needs components). r4: alternating
    large-star/small-star (the escalation PLANS.md:158 named) replaces
    min-label propagation — O(log n) rounds regardless of component
    diameter, same output labels (component = min doc_id)."""
    # the UNSORTED shared candidate stage — going through
    # q_dedup_minhash_md5 paid its global orderBy only for
    # connected_components to immediately re-shuffle the pairs
    # (r5 review; dedup_keep_list already feeds from the raw stage)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = _minhash_md5_candidates(docs)
    labels, _ = connected_components(pairs, s="doc_a", t="doc_b")
    return (labels.select(F.col("node").alias("doc_id"),
                          F.col("component"))
            .orderBy("doc_id"))


def _components_oracle() -> str:
    cte_defs, pair_select = _minhash_md5_parts()
    return f"""
WITH RECURSIVE {cte_defs}, pairs AS (
  {pair_select}
), e AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT s AS src, s AS node FROM e
  UNION
  SELECT r.src, e2.t FROM reach r JOIN e e2 ON r.node = e2.s
)
SELECT src AS doc_id, min(node) AS component
FROM reach GROUP BY src ORDER BY doc_id
"""


ORACLE_DEDUP_COMPONENTS = _components_oracle()


#: words per synthetic line in q_line_dedup's multi-line construction
LINE_WORDS = 8
#: whitespace set for the blank-line exemption — F.trim strips ONLY
#: spaces, so CR-only lines from CRLF corpora would enter stats and
#: get deduped corpus-wide (r6 review); mirrored in the oracle's
#: trim(line, <chars>)
_WS_CHARS = " \t\r\f\x0b\n"

def _okey():
    """First-occurrence key for the sub-document dedup operators: a
    lexicographic struct min implements "first by (doc_id, pos)"
    DIRECTLY, with no id-magnitude or doc-length bound — the earlier
    doc_id*1e6+pos bigint encoding silently collided past 1e6
    positions and OVERFLOWED for xxhash64(url) ids, which the
    production decision wrappers use. The SQL oracles keep the bigint
    encoding (struct min is not portable DuckDB SQL); both derive the
    same winner within the oracle data's bounds (ids >= 0, pos < 1e6).
    A function, not a module constant: building a Column requires an
    active SparkContext in classic mode."""
    return F.struct(F.col("doc_id").alias("d"),
                    F.col("pos").alias("p"))
_LD_HEADER = "subscribe to our newsletter for updates"
_LD_FOOTER = "copyright footer class "


def line_dedup_over(docs: DataFrame, min_count: int = 2,
                    melt_checkpoint: bool = False) -> DataFrame:
    """C4-style corpus-level LINE dedup (Raffel et al. 2020 §2.2: any
    line occurring more than once in the corpus keeps only one copy)
    — the training-data stage that strips cross-page boilerplate
    (nav bars, cookie banners, footers) that doc-level dedup can't
    touch. No reference counterpart; this is the inter-document
    plane.

    Semantics: a line whose occurrence count across the corpus is
    >= min_count keeps only its FIRST occurrence, ordered by
    (doc_id, pos); blank/whitespace-only lines always pass (they are
    document structure, and deduping '' corpus-wide would strip every
    paragraph break after the first). Returns one row per doc:
    (doc_id, n_lines, n_kept, text_out) with text_out the kept lines
    re-joined in position order.

    Scale shape: the global first-occurrence/count is a groupBy on
    the line text — PARTIAL-aggregable, so a boilerplate line on
    10^9 pages collapses map-side instead of melting one reducer (no
    window over the line key; the analogous rank-window design would
    hash-partition every copy of the hot line to one task). The join
    back is an equi-join of the corpus lines against one row per
    DISTINCT line; AQE's skew split bounds the hot-line partitions.
    First-occurrence key is the _okey() struct min on (doc_id, pos) —
    no id-magnitude or doc-length bound (xxhash64 ids welcome); the
    SQL oracle derives the same winner via its bigint encoding, valid
    at oracle data bounds."""
    lines = (docs
             .select("doc_id", F.split(F.coalesce(F.col("text"),
                                                  F.lit("")), "\n")
                     .alias("la"))
             .select("doc_id",
                     F.posexplode(F.col("la")).alias("pos", "line")))
    # melt_checkpoint materializes the line melt once for its two
    # consumers (stats agg + keep join) instead of re-scanning and
    # re-splitting the corpus twice. SCALE-DEPENDENT, measured both
    # ways (r7): at sf0.1 it wins (1.47-1.69 s -> 1.14-1.30 s
    # interleaved A/B — q_line_dedup opts in), at the 1M-doc soak it
    # LOSES (21.3 s -> 26.1 s: materializing a corpus-sized melt
    # costs more than the second scan) — so the production default
    # stays off, like the bench-vs-soak fan-out splits.
    if melt_checkpoint:
        lines = lines.localCheckpoint()
    okey = _okey()
    # pre-filter to actually-duplicated lines: on a real corpus most
    # lines are unique and only dup lines affect the outcome — the
    # join side shrinks by the unique-line fraction (r6 review;
    # unique lines fall through the NULL branch, output-identical)
    stats = (lines.filter(F.btrim(F.col("line"), F.lit(_WS_CHARS))
                          != "")
             .groupBy("line")
             .agg(F.count("*").alias("n"), F.min(okey).alias("fkey"))
             .filter(F.col("n") >= min_count))
    kept = (lines.join(stats, "line", "left")
            .withColumn("kept",
                        F.col("n").isNull()
                        | (okey == F.col("fkey"))))
    return line_dedup_reassemble(kept)


def line_dedup_reassemble(decided: DataFrame) -> DataFrame:
    """(doc_id, pos, line, kept) rows -> one (doc_id, n_lines,
    n_kept, text_out) row per doc, kept lines re-joined in position
    order. ONE kernel shared by batch line_dedup_over and the
    streaming twin's post-pass (stream_stage("linededup")), so
    both reassemble identically by construction."""
    return (decided.groupBy("doc_id")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.col("kept").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("kept"),
                                    F.struct("pos", "line")))),
                         lambda s: s["line"]),
                     "\n").alias("text_out")))


def line_dedup_fixture(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line rendering of a (doc_id, text) table:
    the SAME header boilerplate line for every doc, a blank structural
    line, the text chunked into LINE_WORDS-word lines, and a footer
    shared by the doc_id%7 class. ONE formula shared by q_line_dedup
    and tools/soak.py linededup (batch/soak agree by construction);
    mirrored verbatim in ORACLE_LINE_DEDUP."""
    # bind ws as its OWN projection before the chunking HOF slices it
    # per element — inlining the split re-evaluates it per chunk (the
    # q_repetition_filter O(n^2) lesson)
    d = docs.select("doc_id",
                    F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                    .alias("ws"))
    n_chunks = F.ceil(F.size("ws") / F.lit(float(LINE_WORDS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(F.col("ws"), i * LINE_WORDS + 1, LINE_WORDS), " "))
    mtext = F.concat_ws(
        "\n", F.lit(_LD_HEADER), F.lit(""), F.array_join(chunks, "\n"),
        F.concat(F.lit(_LD_FOOTER), (F.col("doc_id") % 7).cast("string")))
    return d.select("doc_id", mtext.alias("text"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_dedup_over over line_dedup_fixture's deterministic
    multi-line rendering of `documents` — the dedup decides in BOTH
    directions (header kept once corpus-wide, footer once per class,
    blank + body lines all kept)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (line_dedup_over(line_dedup_fixture(docs),
                            melt_checkpoint=True)
            .orderBy("doc_id"))


ORACLE_LINE_DEDUP = rf"""
WITH wsrc AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
  FROM documents
), mls AS (
  SELECT doc_id,
         '{_LD_HEADER}' || chr(10) || chr(10) ||
         array_to_string(list_transform(
             range(cast(ceil(len(ws) / {LINE_WORDS}.0) AS bigint)),
             i -> array_to_string(
                 list_slice(ws, i*{LINE_WORDS} + 1,
                            i*{LINE_WORDS} + {LINE_WORDS}), ' ')),
             chr(10)) ||
         chr(10) || '{_LD_FOOTER}' || cast(doc_id % 7 AS varchar)
             AS mtext
  FROM wsrc
), sp AS (
  SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM mls
), lines0 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ls)),
                i -> {{'pos': i, 'line': ls[i + 1]}})) AS u
  FROM sp
), lines AS (
  SELECT doc_id, u.pos AS pos, u.line AS line FROM lines0
), stats AS (
  SELECT line, count(*) AS n, min(doc_id * 1000000 + pos) AS fkey
  FROM lines
  WHERE trim(line, ' ' || chr(9) || chr(13) || chr(12) || chr(11)
                    || chr(10)) <> ''
  GROUP BY line HAVING count(*) >= 2
), k AS (
  SELECT l.doc_id, l.pos, l.line,
         (s.n IS NULL
          OR l.doc_id * 1000000 + l.pos = s.fkey) AS kept
  FROM lines l LEFT JOIN stats s USING (line)
)
SELECT doc_id,
       count(*) AS n_lines,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN line END, chr(10)
                           ORDER BY pos), '') AS text_out
FROM k GROUP BY doc_id ORDER BY doc_id
"""


#: tokens per duplicated-span gram in exact-substring dedup
GRAM_K = 10


def substr_gram_melt(docs: DataFrame, k: int = GRAM_K) -> DataFrame:
    """(doc_id, text) -> one (doc_id, pos, g) row per k-token window,
    g = md5 of the space-joined gram. ONE kernel shared by batch
    substr_dedup_over and the streaming twin
    (stream_stage("substrdedup")), so both hash identically by
    construction. The shuffle downstream carries the 32-byte hash per
    token position, never the k-fold text expansion. Docs shorter
    than k tokens contribute no rows."""
    d = (docs.select("doc_id",
                     F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                     .alias("ws"))
         .withColumn("n", F.size("ws")))
    # F.sequence(0, n-k) DESCENDS for n<k (Spark generates negative
    # steps) — guard short docs to an empty gram list explicitly
    gh = F.when(
        F.col("n") >= k,
        F.transform(F.sequence(F.lit(0), F.col("n") - k),
                    lambda i: F.md5(F.array_join(
                        F.slice(F.col("ws"), i + 1, k), " ")))
    ).otherwise(F.array().cast("array<string>"))
    return d.select("doc_id", F.posexplode(gh).alias("pos", "g"))


def substr_dedup_reassemble(docs: DataFrame, dup: DataFrame,
                            k: int = GRAM_K) -> DataFrame:
    """(doc_id, text) corpus + (doc_id, pos) duplicated-gram START
    rows -> one (doc_id, n_tokens, n_dup_starts, n_kept, text_out)
    row per doc: starts merge into disjoint [lo, hi] token-coverage
    intervals via gaps-and-islands and the kept token indices come
    closed-form from the interval GAPS — O(n + starts) per doc, the
    per-doc window bounded by the doc's own length. ONE kernel shared
    by batch substr_dedup_over and the streaming twin's post-pass
    (dup = the sink's kept=false rows), so both reassemble
    identically by construction."""
    d = (docs.select("doc_id",
                     F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                     .alias("ws"))
         .withColumn("n", F.size("ws")))
    # gaps-and-islands: start s covers [s, s+k-1]; consecutive sorted
    # starts merge while pos <= prev + k. The window is per-doc
    # (bounded by the doc's own length), never corpus-global.
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (dup.withColumn(
        "brk", F.when(F.col("pos") > F.lag("pos").over(w) + k, 1)
        .otherwise(0))
        .withColumn("island", F.sum("brk").over(w)))
    ivs = (isl.groupBy("doc_id", "island")
           .agg(F.min("pos").alias("lo"),
                (F.max("pos") + (k - 1)).alias("hi"),
                F.count("*").alias("ns")))
    per_doc = (ivs.groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(F.struct("lo", "hi")))
                    .alias("iv"),
                    F.sum("ns").alias("nds")))
    base = (d.join(per_doc, "doc_id", "left")
            .withColumn("iv", F.coalesce(
                "iv", F.array().cast("array<struct<lo:int,hi:int>>")))
            .withColumn("nds", F.coalesce("nds", F.lit(0))))
    # kept = the gap ranges between the m disjoint intervals (plus
    # head/tail); m+1 gaps, each a closed-form sequence — no
    # per-token predicate at all
    m = F.size("iv")
    gaps = F.transform(
        F.sequence(F.lit(0), m),
        lambda i: F.struct(
            F.when(i == 0, F.lit(0))
            .otherwise(F.element_at("iv", i)["hi"] + 1).alias("a"),
            F.when(i == m, F.col("n") - 1)
            .otherwise(F.element_at("iv", i + 1)["lo"] - 1).alias("b")))
    kept = F.flatten(F.transform(
        gaps, lambda s: F.when(s["a"] <= s["b"],
                               F.sequence(s["a"], s["b"]))
        .otherwise(F.array().cast("array<int>"))))
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("nds").cast("long").alias("n_dup_starts"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda j: F.element_at("ws", j + 1)),
            " ").alias("text_out"))


def substr_dedup_over(docs: DataFrame, k: int = GRAM_K,
                      min_count: int = 2) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" §3.1 ExactSubstr): any k-token
    span occurring >= min_count times corpus-wide keeps only its FIRST
    occurrence by (doc_id, pos); every other copy's tokens are removed
    from their documents. The granularity between doc-level dedup
    (misses partial copies) and line dedup (misses reflowed text that
    crosses line breaks). No reference counterpart; inter-document
    plane.

    Returns one row per doc: (doc_id, n_tokens, n_dup_starts, n_kept,
    text_out) — text_out is the surviving tokens re-joined by ' '.
    Docs shorter than k tokens contribute no grams and pass untouched.

    Scale shape: Lee et al. use a monolithic suffix array; the
    distributed equivalent here is a k-gram melt keyed by md5(gram) —
    the shuffle carries a 32-byte hash per token position, never the
    k-fold text expansion, and the duplicate count/first-occurrence
    is ONE partial-aggregable groupBy (a boilerplate passage on 10^9
    pages collapses map-side; same no-window rationale as
    line_dedup_over). The duplicated starts merge into disjoint
    [lo,hi] coverage intervals via gaps-and-islands (a per-doc-bounded
    window + codegen'd aggregates) and the kept token indices come
    closed-form from the interval GAPS — O(n + starts) per doc.
    MEASURED TRAP behind that choice: the obvious alternative — an
    in-project aggregate() fold building the intervals, then a
    per-token filter(exists(iv)) — lets CollapseProject inline the
    fold ALIAS into the token lambda, re-running the interpreted fold
    once PER TOKEN (100k soak docs: 358 s vs 11 s for this shape).
    Island/interval columns arrive through a shuffle as real
    attributes, which cannot be inlined. First-occurrence key is the
    _okey() struct min on (doc_id, pos), the line_dedup_over
    convention. Composes the two shared kernels (substr_gram_melt,
    substr_dedup_reassemble) the streaming twin also uses."""
    grams = substr_gram_melt(docs, k)
    okey = _okey()
    stats = (grams.groupBy("g")
             .agg(F.count("*").alias("cnt"), F.min(okey).alias("fkey"))
             .filter(F.col("cnt") >= min_count))
    dup = (grams.join(stats, "g")
           .filter(okey != F.col("fkey"))
           .select("doc_id", "pos"))
    return substr_dedup_reassemble(docs, dup, k)


#: 12-token corpus-wide boilerplate passage for q_substr_dedup
_SD_HEADER = ("terms of service apply to all content "
              "on this site please")
#: 10-token per-class footer; the class token appended makes 11
_SD_FOOTER = ("all rights reserved contact the webmaster "
              "for takedown requests class")


def substr_dedup_fixture(docs: DataFrame) -> DataFrame:
    """Deterministic span-planting rendering of a (doc_id, text)
    table: the SAME 12-token header passage for every doc, docs with
    doc_id%5==0 repeat their own body (within-doc dup), and an
    11-token footer shared by the doc_id%7 class. Grams that straddle
    a boilerplate/body boundary differ per doc and survive — the
    operator's natural edge behavior. ONE formula shared by
    q_substr_dedup and tools/soak.py substrdedup; mirrored verbatim
    in ORACLE_SUBSTR_DEDUP."""
    body = F.coalesce(F.col("text"), F.lit(""))
    mtext = F.concat(
        F.lit(_SD_HEADER + " "), body,
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" "), body))
        .otherwise(F.lit("")),
        F.lit(" " + _SD_FOOTER + " "),
        (F.col("doc_id") % 7).cast("string"))
    return docs.select("doc_id", mtext.alias("text"))


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substr_dedup_over (k=GRAM_K tokens) over substr_dedup_fixture's
    rendering of `documents` — plants duplicated spans in every
    direction the operator must decide (sf0.01 has ZERO duplicate
    texts — raw application would be vacuous at the correctness
    scale): header kept once corpus-wide, within-doc body repeats
    keep their first copy, footers kept once per doc_id%7 class."""
    # single parquet file => 1 scan partition => the md5 gram melt
    # (the expensive map-side work, BEFORE any exchange) runs serial;
    # fan out first (measured 3.6 -> 2.1 s at sf0.1). At cluster
    # scale the scan has many splits and the job layer owns this.
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(spark.sparkContext.defaultParallelism))
    return (substr_dedup_over(substr_dedup_fixture(docs))
            .orderBy("doc_id"))


ORACLE_SUBSTR_DEDUP = rf"""
WITH src AS (
  SELECT doc_id,
         '{_SD_HEADER} ' || coalesce(text, '') ||
         CASE WHEN doc_id % 5 = 0
              THEN ' ' || coalesce(text, '') ELSE '' END ||
         ' {_SD_FOOTER} ' || cast(doc_id % 7 AS varchar) AS text
  FROM documents
), d AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
  FROM src
), g0 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ws) - {GRAM_K} + 1),
                i -> {{'pos': i,
                       'g': md5(array_to_string(
                                list_slice(ws, i + 1, i + {GRAM_K}),
                                ' '))}})) AS u
  FROM d WHERE len(ws) >= {GRAM_K}
), grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM g0
), stats AS (
  SELECT g, count(*) AS cnt, min(doc_id * 1000000 + pos) AS fkey
  FROM grams GROUP BY g
), dup AS (
  SELECT gr.doc_id, gr.pos
  FROM grams gr JOIN stats s USING (g)
  WHERE s.cnt >= 2 AND gr.doc_id * 1000000 + gr.pos <> s.fkey
), ss AS (
  SELECT doc_id, list_sort(list(pos)) AS ss FROM dup GROUP BY doc_id
), j AS (
  SELECT d.doc_id, d.ws,
         coalesce(s.ss, CAST([] AS BIGINT[])) AS ss
  FROM d LEFT JOIN ss s USING (doc_id)
), kk AS (
  SELECT doc_id, ws, ss,
         list_filter(range(len(ws)),
                     jx -> len(list_filter(ss,
                           sx -> sx <= jx AND jx < sx + {GRAM_K})) = 0)
             AS kept
  FROM j
)
SELECT doc_id,
       cast(len(ws) AS bigint) AS n_tokens,
       cast(len(ss) AS bigint) AS n_dup_starts,
       cast(len(kept) AS bigint) AS n_kept,
       coalesce(array_to_string(list_transform(kept, jx -> ws[jx + 1]),
                                ' '), '') AS text_out
FROM kk ORDER BY doc_id
"""


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash (16-bit, md5-derived token hashes) so the
    fingerprints themselves are oracle-verified."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+")
    tok = docs.select("doc_id", F.explode(words).alias("w"))
    h = F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int")
    tok = tok.withColumn("h", h)
    bit_cols = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"b{i}")
        for i in range(16)]
    votes = tok.groupBy("doc_id").agg(*bit_cols)
    sim = None
    for i in range(16):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return (votes.select("doc_id", sim.cast("int").alias("simhash16"))
            .orderBy("doc_id"))


def _simhash_md5_oracle() -> str:
    nib = ("(strpos('0123456789abcdef', substr(md5(w), {p}, 1)) - 1)")
    hexpr = " + ".join(
        f"{nib.format(p=p)} * {16 ** (4 - p)}" for p in (1, 2, 3, 4))
    bits = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {1 << i} ELSE 0 END" for i in range(16))
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(
             lower(trim(coalesce(text,''))), '\s+')) AS w
  FROM documents
), hashed AS (
  SELECT doc_id, cast({hexpr} AS int) AS h FROM tok
)
SELECT doc_id, cast({bits} AS int) AS simhash16
FROM hashed GROUP BY doc_id ORDER BY doc_id
"""


ORACLE_DEDUP_SIMHASH_MD5 = _simhash_md5_oracle()


# Max LSH candidates verified per doc_a. A pathological near-dup
# clique of k docs otherwise makes the verify join replicate every
# shingle array k times (VERDICT r3 caveat #1; PLANS.md names this
# cap). Deterministic: kept pairs = lowest doc_b per doc_a.
JACCARD_CAND_CAP = 20


def ngram_jaccard_over(docs: DataFrame,
                       cap: int = JACCARD_CAND_CAP) -> DataFrame:
    """Exact n-gram Jaccard verify over LSH candidates for an arbitrary
    documents-shaped DataFrame (doc_id, text). See q_ngram_jaccard."""
    cand = _minhash_md5_candidates(docs)
    w_cap = Window.partitionBy("doc_a").orderBy("doc_b")
    cand = (cand.withColumn("rn", F.row_number().over(w_cap))
            .filter(F.col("rn") <= cap).drop("rn"))
    words = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+")
    d = docs.select("doc_id", words.alias("w")).filter(F.size("w") >= 3)
    sh_arr = d.select("doc_id", F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size("w") - 3),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)))).alias("sh"))
    a = sh_arr.select(F.col("doc_id").alias("doc_a"),
                      F.col("sh").alias("sa"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"),
                      F.col("sh").alias("sb"))
    paired = cand.join(a, "doc_a").join(b, "doc_b")
    n_inter = F.size(F.array_intersect("sa", "sb"))
    return (paired.select(
        "doc_a", "doc_b",
        F.round(n_inter / (F.size("sa") + F.size("sb") - n_inter), 6)
        .alias("jaccard"))
        .orderBy("doc_a", "doc_b"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard as the VERIFY stage of filter-verify dedup
    (r3 — was all-pairs bounded to doc_id < 60): candidates come from
    the MinHash-LSH band join (the filter), capped at
    JACCARD_CAND_CAP candidates per doc_a (r4 — bounds shingle-array
    replication under near-dup cliques), then exact
    |A∩B| / (|A|+|B|-|A∩B|) is computed row-locally per candidate pair
    with array_intersect over the in-row distinct-shingle arrays — no
    shingle explode, no all-pairs join, scales with the candidate
    count, not the corpus squared."""
    # fan out the single-file scan before the md5-minhash melt (the
    # q_substr_dedup lesson; r7 interleaved A/B: ~0.25 s at sf0.1)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(spark.sparkContext.defaultParallelism))
    return ngram_jaccard_over(docs)


def _ngram_jaccard_oracle() -> str:
    cte_defs, pair_select = _minhash_md5_parts()
    return f"""
WITH {cte_defs}, cand_all AS (
  {pair_select}
), cand AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           row_number() OVER (PARTITION BY doc_a ORDER BY doc_b) AS rn
    FROM cand_all
  ) WHERE rn <= {JACCARD_CAND_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(coalesce(i.n_inter, 0)
             / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6)
           AS jaccard
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
"""


ORACLE_NGRAM_JACCARD = _ngram_jaccard_oracle()


def q_extract_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level failure isolation end-to-end: every 10th doc is
    truncated to 80 bytes (header survives, xref gone) and must come
    back status='error' with empty text while the rest extract clean —
    one query proving a poisoned corpus cannot fail the job."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["flate_simple"])
    doc_id = F.regexp_extract("url", r"doc://(\d+)", 1).cast("long")
    corrupted = corpus.withColumn(
        "html",
        F.when(doc_id % 10 == 0,
               F.expr("substring(html, 1, 80)")).otherwise(F.col("html")))
    ext = extract_pdfs(corrupted)
    return (ext.select("url", "status",
                       (F.length("text") > 0).alias("has_text"))
            .orderBy("url"))


ORACLE_EXTRACT_QUARANTINE = """
SELECT 'doc://' || doc_id AS url,
       CASE WHEN doc_id % 10 = 0 THEN 'error' ELSE 'ok' END AS status,
       doc_id % 10 <> 0 AS has_text
FROM documents ORDER BY url
"""


def q_extract_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-sharded extraction of multipage docs (SURVEY R5): probe ->
    explode ranges -> range-extract -> ordered reassembly in SQL.
    Must reproduce the unsharded byte-identical text, so it shares the
    multipage oracle."""
    from .job import extract_pdfs_sharded
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["multipage"])
    return (extract_pdfs_sharded(corpus, pages_per_shard=3)
            .select("url", "n_pages", "text", "status"))


def q_page_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MediaBox via inheritable-attribute lookup (SURVEY D6)."""
    from pdfio_spark.cos.objects import Name
    from pdfio_spark.pd.pagetree import PDDoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["multipage"])

    def geom(url, html):
        try:
            doc = PDDoc(html)
            for i in range(1, doc.page_count() + 1):
                box = doc.get_page(i).find_attribute(Name("MediaBox"))
                if isinstance(box, list) and len(box) == 4:
                    yield (url, i, *map(float, box))
        except Exception:
            pass

    return (map_rows(corpus, ["url", "html"],
                     "url string, page_no int, x0 double, y0 double, "
                     "x1 double, y1 double", geom)
            .orderBy("url", "page_no"))


ORACLE_PAGE_GEOMETRY = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url, cast(i AS int) AS page_no,
       cast(0 AS double) AS x0, cast(0 AS double) AS y0,
       cast(612 AS double) AS x1, cast(792 AS double) AS y1
FROM l ORDER BY url, page_no
"""


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full output schema incl. per-span geometry (FIXTURES.md §5).
    Span x1 depends on AFM width sums (kerning) — not SQL-expressible,
    so this is a rows-only check; values are covered by unit tests."""
    from pdfio_spark.pd.extract import extract_doc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = gen_pdf_corpus(docs, classes=["flate_simple"])

    def spans(url, html):
        r = extract_doc(html, with_spans=True)
        for p in r["pages"]:
            for s in p.get("spans", []):
                yield (url, p["page_no"], s["x0"], s["y0"], s["x1"], s["y1"],
                       s["text"], s["font"], s["flags"])

    return (map_rows(corpus, ["url", "html"],
                     "url string, page_no int, x0 double, y0 double, "
                     "x1 double, y1 double, stext string, font string, "
                     "flags long", spans)
            .orderBy("url", "page_no", "y0"))


# ---------------------------------------------------------------------
# similarity: LSH-bucketed ANN (the scale path next to brute force)
# ---------------------------------------------------------------------

def _hyperplanes(n: int = 8, dim: int = 64,
                 tag: str = "c") -> list[list[float]]:
    """Deterministic INDEPENDENT pseudo-random hyperplanes (one md5 per
    coefficient), embedded as literals in BOTH the Spark plan and the
    DuckDB oracle (seed-free arithmetic).

    r6: this replaced a multiplicative-hash-of-a-counter sequence whose
    consecutive planes were shifted copies of one stream. Correlated
    planes are a measured scale-killer (BENCH/BASELINE.md
    "bits-scale-with-n"): at 16+20 bits on 100k vectors the correlated
    code collapsed into ~9k of 65k buckets and multiprobe amplified
    that into 349.6M candidate pairs + disk-exhausting spill, vs ~5M
    with independent planes. md5-per-coefficient is independent by
    construction, so bucket occupancy holds the ~n/2^bits bound the
    whole LSH design budgets around (occupancy test in
    tests/test_spark_pipeline.py). `tag` separates plane families —
    the coarse ("c") and fine ("f") tables must not share a stream.
    tools/soak.py's ann mode calls this same generator at 16+20 bits."""
    out = []
    for j in range(n):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{tag}:{j}:{i}".encode()).digest()
            v = int.from_bytes(h[:8], "big") / 2 ** 64
            row.append(round(v * 2 - 1, 6))
        out.append(row)
    return out


_HP = _hyperplanes()

#: Multi-table LSH (r4, PLANS.md escalation): a SECOND independent
#: hash table with MORE bits. More bits shrink the worst bucket
#: (~n/2^bits — the hot-bucket bound); the recall the finer buckets
#: lose is recovered by unioning candidates across tables. Table 0
#: keeps the original 8 coarse bits so the candidate set is a strict
#: superset of the single-table design (recall can only go up); at
#: 10^9 vectors every table runs at the fine setting and T is the
#: recall knob.
ANN_FINE_BITS = 12
_HP_FINE = _hyperplanes(ANN_FINE_BITS, tag="f")  # independent family

#: Query-DIRECTED multiprobe (r6 — the actual Lv et al. "Multi-Probe
#: LSH", VLDB'07 algorithm, not just the Hamming ball): a bit whose
#: hyperplane dot product is near zero is the bit most likely to be
#: flipped for a true neighbor, so each QUERY ranks its table's bits
#: by |dot| ascending and probes only perturbations of the closest
#: bits — singles of the top `singles` bits plus pairs among the top
#: `pairs` bits. Probing still multiplies only the probe-side melt
#: (rows are (vec_id, bucket-key) — tiny); the build side and the
#: per-bucket work bound are unchanged, so the skew story is intact.
#: Measured recall@3 vs exact truth at sf0.01 (near-random 64-dim
#: vectors, the HARDEST case for LSH — no cluster structure, so the
#: directed advantage over the plain ball is modest here; on
#: clustered data it grows): r5 correlated-plane Hamming ball
#: 0.258 @ 25,776 directed candidate pairs; independent planes +
#: plain ball c1/f2 0.203 @ 15,262; chosen directed (8,4)/(12,8)
#: 0.259 @ 19,409 — the r5 recall pin at 75% of its candidate volume
#: and 56 probes/vector instead of 88, with planes that hold the
#: n/2^bits occupancy bound at scale. sf0.1: 0.294 @ 301k pairs.
ANN_COARSE_DIRECTED = (8, 4)   # (singles, pairs-among-top-k bits)
ANN_FINE_DIRECTED = (12, 8)


def _dot_lit(col, vec):
    return _dot(col, F.array(*[F.lit(float(v)) for v in vec]))


def _code_bits(dots: list):
    """LSH code: bit j set iff the j-th hyperplane dot is >= 0."""
    assert len(dots) <= 30  # int32 bit-sum bound
    b = None
    for j, d in enumerate(dots):
        bit = F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        b = bit if b is None else b + bit
    return b.cast("int")


def _bucket_expr(col, planes: list[list[float]] | None = None):
    return _code_bits([_dot_lit(col, hp) for hp in
                       (planes if planes is not None else _HP)])


def _dots_expr(col, planes: list[list[float]]):
    """array<double> of the hyperplane dot products — computed ONCE and
    checkpointed; code bits AND directed-probe ranks both derive from
    it downstream (cheap element_at ops on the stored array)."""
    return F.array(*[_dot_lit(col, hp) for hp in planes])


def _rank_expr(dcol, bits: int):
    """array<int> of plane indices ordered by ascending round(|dot|,6)
    (tie-break: plane index — deterministic cross-engine): the
    query-directed probe order. Rounding to 6 decimals keeps the sort
    key identical between Spark and the DuckDB oracle."""
    structs = F.array(*[
        F.struct(F.round(F.abs(F.element_at(dcol, j + 1)), 6).alias("a"),
                 F.lit(j).alias("j"))
        for j in range(bits)])
    return F.transform(F.array_sort(structs), lambda x: x["j"])


def _directed_buckets(code, js, bits: int, singles: int, pairs: int):
    """Probe-bucket exprs for one table: the exact code, single flips
    of the top `singles` ranked bits, pair flips among the top `pairs`
    ranked bits (Lv et al. query-directed perturbation sets).
    (F.shiftleft needs a Python-int shift, so bit masks come from a
    literal power-of-two array indexed by the rank entry.)"""
    pw = F.array(*[F.lit(1 << j) for j in range(bits)])

    def bitmask(t):
        return F.element_at(pw, F.element_at(js, t) + 1)

    out = [code]
    for t in range(singles):
        out.append(code.bitwiseXOR(bitmask(t + 1)))
    for a in range(pairs):
        for b in range(a + 1, pairs):
            out.append(code.bitwiseXOR(
                bitmask(a + 1).bitwiseOR(bitmask(b + 1))))
    return out


def _bucket_sql(col: str, planes: list[list[float]] | None = None) -> str:
    terms = []
    for j, hp in enumerate(planes if planes is not None else _HP):
        lits = ",".join(repr(v) for v in hp)
        terms.append(
            f"CASE WHEN list_dot_product({col}::DOUBLE[], [{lits}]) >= 0 "
            f"THEN {1 << j} ELSE 0 END")
    return "cast(" + " + ".join(terms) + " AS int)"


#: Salt factor for within-bucket self-joins. Real embedding
#: distributions concentrate mass in few LSH buckets; a hot bucket with
#: n rows is an n^2 single-task straggler. Salting splits one side into
#: LSH_SALT groups and replicates the other, bounding per-task work at
#: (n/LSH_SALT)*n with IDENTICAL output (every pair still meets exactly
#: once). At 10^9 vectors pair with a per-bucket count guard
#: (q_lsh_bucket_stats) + more hyperplane bits; see PLANS.md.
LSH_SALT = 8


#: buckets above this row count get salted; below it the plain 1-key
#: join is cheaper (no build-side replication)
LSH_HOT_BUCKET = 1000


def _salted_bucket_pairs(b: DataFrame, pair_filter,
                         hot_threshold: int = LSH_HOT_BUCKET,
                         probe: DataFrame | None = None):
    """Within-bucket join with ADAPTIVE skew salting. `b` (the build
    side) must carry (vec_id, embedding, bucket); `pair_filter(a_id,
    c_id)` is the pair predicate (`<` unordered, `!=` directed).
    `probe` (default `b` — a self-join) supplies the left side;
    multiprobe ANN passes the expanded probe melt (own bucket +
    directed-probe buckets) against the exact build melt.

    Per-bucket BUILD-side counts (one tiny agg, broadcast back) decide
    which buckets are hot; only those are salted — the probe side gets
    `xxhash64(vec_id) % LSH_SALT`, the build side replicates xLSH_SALT.
    Cold buckets join on salt=0 with no replication, so benign
    distributions pay ~nothing while a hot bucket's n^2 single task
    becomes LSH_SALT parallel tasks of n^2/LSH_SALT. Output is
    IDENTICAL either way (every pair meets exactly once)."""
    counts = (b.groupBy("bucket").agg(F.count("*").alias("_n"))
              .filter(F.col("_n") > hot_threshold)
              .select("bucket", F.lit(True).alias("_hot")))

    def mark(df):
        return (df.join(F.broadcast(counts), "bucket", "left")
                .withColumn("_hot", F.coalesce("_hot", F.lit(False))))

    left = mark(probe if probe is not None else b).withColumn(
        "salt", F.when(F.col("_hot"),
                       F.pmod(F.xxhash64("vec_id"), F.lit(LSH_SALT)))
        .otherwise(F.lit(0))).alias("a")
    right = (mark(b).withColumn(
        "salt", F.explode(F.when(
            F.col("_hot"), F.sequence(F.lit(0), F.lit(LSH_SALT - 1)))
            .otherwise(F.array(F.lit(0)))))
        .alias("c"))
    return left.join(
        right,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.salt") == F.col("c.salt"))
        & pair_filter(F.col("a.vec_id"), F.col("c.vec_id")))


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (sign bits of 8
    deterministic hyperplane dot products, JVM-side expressions) PLUS
    the per-bucket skew guard: vector count and the candidate-pair
    count the within-bucket join would generate, broadcast back onto
    every row. At scale the stats half runs BEFORE the pair join;
    buckets whose n_pairs exceed budget get more LSH bits or are
    capped — the observability half of the skew defense. (r3: merged
    q_lsh_bucket_stats into the assignment query; r4: fine-table
    columns — the 12-bit second LSH table's bucket + size, whose worst
    bucket is provably <= the coarse worst bucket, the bound the
    multi-table escalation buys.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # materialize once: three consumers (coarse stats, fine stats, the
    # final join) would otherwise each recompute all 20 hyperplane dot
    # products (same rationale as the ann_lsh_topk_over checkpoint)
    b = emb.select("vec_id",
                   _bucket_expr(F.col("embedding")).alias("bucket"),
                   _bucket_expr(F.col("embedding"), _HP_FINE)
                   .alias("bucket_fine")).localCheckpoint()
    stats = (b.groupBy("bucket")
             .agg(F.count("*").alias("n_vectors"))
             .withColumn("n_pairs",
                         (F.col("n_vectors") * (F.col("n_vectors") - 1) / 2)
                         .cast("long")))
    fstats = (b.groupBy("bucket_fine")
              .agg(F.count("*").alias("n_vectors_fine")))
    return (b.join(F.broadcast(stats), "bucket")
            .join(F.broadcast(fstats), "bucket_fine")
            .select("vec_id", "bucket", "n_vectors", "n_pairs",
                    "bucket_fine", "n_vectors_fine")
            .orderBy("vec_id"))


ORACLE_LSH_BUCKETS = f"""
WITH b AS (
  SELECT vec_id, {_bucket_sql('embedding')} AS bucket,
         {_bucket_sql('embedding', _HP_FINE)} AS bucket_fine
  FROM embeddings
), s AS (
  SELECT bucket, count(*) AS n_vectors,
         cast(count(*) * (count(*) - 1) / 2 AS bigint) AS n_pairs
  FROM b GROUP BY bucket
), fs AS (
  SELECT bucket_fine, count(*) AS n_vectors_fine
  FROM b GROUP BY bucket_fine
)
SELECT vec_id, b.bucket, n_vectors, n_pairs, b.bucket_fine,
       n_vectors_fine
FROM b JOIN s ON b.bucket = s.bucket
       JOIN fs ON b.bucket_fine = fs.bucket_fine
ORDER BY vec_id
"""


def ann_lsh_topk_over(emb: DataFrame, tables: int = 2,
                      k: int = 3,
                      coarse_directed: tuple = ANN_COARSE_DIRECTED,
                      fine_directed: tuple = ANN_FINE_DIRECTED,
                      coarse_planes: list | None = None,
                      fine_planes: list | None = None) -> DataFrame:
    """Multi-table query-directed multiprobe LSH ANN over an
    embeddings-shaped DataFrame: each vector is hashed into `tables`
    independent LSH tables (table 0 = 8 coarse bits, table 1 =
    ANN_FINE_BITS fine bits by default, md5-independent plane
    families) and BUILT at its exact buckets; the PROBE side
    additionally visits the buckets reached by flipping the bits the
    QUERY is closest to (r6 — Lv et al.'s actual perturbation
    ordering: rank bits by |dot| ascending, probe singles of the top
    `singles` and pairs among the top `pairs`). Candidates are
    unioned across tables and probes (DISTINCT pairs) and ranked by
    exact cosine top-k. Probe and build are projections of one coded
    base feeding ONE salted equi-join — bucket keys are disjoint per
    table, so the adaptive skew salting composes unchanged and the
    build-side bucket bound (q_lsh_buckets) still governs per-bucket
    work.

    coarse_directed=(0, 0), fine_directed=(0, 0) probe the exact
    buckets only — the no-probe control. coarse_planes/fine_planes
    override the bit widths — the at-scale escalation: bucket
    occupancy ~ n/2^bits, so bits grow with log2(n) to hold
    per-bucket (and per-probe) work constant. tools/soak.py ann mode
    runs _hyperplanes(16)/(20) at 100k vectors this way."""
    _require_pos_int(k=k)
    cps = coarse_planes if coarse_planes is not None else _HP
    fps = fine_planes if fine_planes is not None else _HP_FINE
    # materialize the coded base ONCE (localCheckpoint): the join would
    # otherwise recompute all (8+12) hyperplane dot products on BOTH
    # sides — measured 35% of query time at sf0.1; at 10^9 vectors the
    # bucket assignment is a persisted table anyway. The embedding is
    # pre-NORMALIZED here (r5): cosine then costs ONE dot product per
    # candidate pair instead of dot + two norms — the per-pair HOF work
    # that dominates once multiprobe widens the candidate set. The dot
    # arrays feed the bucket/probe derivation in-plan and are NOT
    # stored (r7 — the single checkpoint materializes nemb + the
    # finished bucket arrays; see the note at the checkpoint below).
    dcols = [_dots_expr(F.col("embedding"), cps).alias("_dc")]
    if tables > 1:
        dcols.append(_dots_expr(F.col("embedding"), fps).alias("_df"))
    # offset keeps per-table key spaces disjoint in one join column —
    # it must clear BOTH code widths (r5 review: a coarse table wider
    # than the fine one would alias across tables with 1 << len(fps))
    off = F.lit(1 << max(len(cps), len(fps)))

    def table(name, planes, directed, dcol):
        """(exact code, directed probe codes) of one table."""
        s, p = directed
        if s > len(planes) or p > len(planes):
            raise ValueError(f"{name}_directed {directed} exceeds "
                             f"{len(planes)} {name} bits")
        dots = F.col(dcol)
        code = _code_bits([F.element_at(dots, j + 1)
                           for j in range(len(planes))])
        return code, _directed_buckets(
            code, _rank_expr(dots, len(planes)), len(planes), s, p)

    b0, pc = table("coarse", cps, coarse_directed, "_dc")
    exact = [b0.cast("long")]
    probes = [c.cast("long") for c in pc]
    if tables > 1:
        f1, pf = table("fine", fps, fine_directed, "_df")
        exact.append((off + f1).cast("long"))
        probes += [(off + c).cast("long") for c in pf]
    # melts carry ONLY (vec_id, bucket) — 12 bytes/row — so the probe
    # expansion shuffles kilobytes per vector, not 56 copies of the
    # 64-double embedding. ONE checkpoint (r7: was base + a second
    # narrow melt checkpoint — merged, since the dot arrays existed
    # only to feed the bucket derivation) materializes the normalized
    # embedding AND the bucket arrays in a single pass, so the rank
    # sort (array_sort of 8/12 structs per probe expr) still runs once
    # per row and the exploded melts are plain array reads, one
    # checkpoint job instead of two.
    # NOTE (r7, interleaved A/B): do NOT fan out the scan here. These
    # projections do run serial on a single-file scan, but a
    # defaultParallelism repartition measured ~1.5 s SLOWER end-to-end
    # at sf0.1 (6.3-7.3 vs 7.8+): the extra corpus shuffle plus
    # 32-task scheduling on every downstream melt/broadcast stage
    # outweighs parallelizing ~1 s of per-row work. (q_ann_ivf is the
    # opposite call — its Lloyd passes re-read the checkpointed base
    # 3x, so the one-off fan-out amortizes.)
    base = (emb.select("vec_id", "embedding", *dcols)
            .withColumn("_nrm", _norm(F.col("embedding")))
            .select("vec_id",
                    F.transform(F.col("embedding"),
                                lambda x: x.cast("double")
                                / F.col("_nrm")).alias("nemb"),
                    F.array(*exact).alias("_builds"),
                    F.array(*probes).alias("_probes"))
            .localCheckpoint())
    build = base.select("vec_id",
                        F.explode(F.col("_builds")).alias("bucket"))
    probe = base.select("vec_id",
                        F.explode(F.col("_probes")).alias("bucket"))
    pair_ids = (_salted_bucket_pairs(build, lambda a, c: a != c,
                                     probe=probe)
                .select(F.col("a.vec_id").alias("vec_id"),
                        F.col("c.vec_id").alias("nn_id"))
                .distinct())   # dedupe BEFORE fetching embeddings
    # fetch both normalized embeddings from the checkpointed base (two
    # hash joins on vec_id), then one dot product per surviving pair.
    # (r5 note: an unrolled 64-term getItem sum was tried for the dot
    # and is SLOWER — the giant expression tree falls out of codegen;
    # the zip_with/aggregate HOF over the pre-normalized arrays is the
    # fastest exact-order formulation measured)
    nv = base.select("vec_id", "nemb")
    sim = F.round(_dot(F.col("a_emb"), F.col("c_emb")), 6)
    pairs = (pair_ids
             .join(nv.select(F.col("vec_id"),
                             F.col("nemb").alias("a_emb")), "vec_id")
             .join(nv.select(F.col("vec_id").alias("nn_id"),
                             F.col("nemb").alias("c_emb")), "nn_id")
             .select("vec_id", "nn_id", sim.alias("cos_sim")))
    return _topk(pairs, "vec_id", "cos_sim", "nn_id",
                 k).orderBy("vec_id", "rk")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table multiprobe LSH candidate pruning: exact
    cosine only WITHIN buckets, candidates unioned across 2 hash tables
    (8 coarse + 12 fine bits, independent md5 plane families) with
    QUERY-DIRECTED multiprobe on the probe side (r6 — flip the bits
    the query is closest to: coarse singles(8)+pairs(top-4), fine
    singles(12)+pairs(top-8)) — the 100 TB-scale alternative to the
    brute-force cross join. The fine table bounds the worst bucket at
    ~n/4096 (a bound the independent planes actually deliver — see
    _hyperplanes); directed probing buys recall (0.042 no-probe ->
    0.259 pinned at sf0.01, the r5 ball's recall at 75% of its
    candidate pairs) by expanding only the tiny probe melt, never the
    per-bucket build work."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk_over(emb)


def _dots_sql(col: str, planes: list[list[float]]) -> str:
    """SQL list of the per-plane dot products (mirrors _dots_expr)."""
    return "[" + ", ".join(
        f"list_dot_product({col}::DOUBLE[], "
        f"[{','.join(repr(v) for v in hp)}])" for hp in planes) + "]"


def _code_sql(dcol: str, bits: int) -> str:
    """Code bits from a stored dot list (mirrors _code_bits)."""
    return ("cast(" + " + ".join(
        f"CASE WHEN {dcol}[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(bits)) + " AS int)")


def _rank_sql(dcol: str, bits: int) -> str:
    """Plane indices by ascending round(|dot|,6) (mirrors _rank_expr —
    same rounding, same tie-break, so the probe order is identical)."""
    structs = ", ".join(
        f"{{'a': round(abs({dcol}[{j + 1}]), 6), 'j': {j}}}"
        for j in range(bits))
    return f"list_transform(list_sort([{structs}]), x -> x.j)"


def _directed_sql(code: str, js: str, singles: int, pairs: int,
                  off: int = 0) -> list[str]:
    """Directed probe-bucket SQL exprs (mirrors _directed_buckets)."""
    pre = f"{off} + " if off else ""
    out = [f"cast({pre}{code} AS bigint)"]
    for t in range(singles):
        out.append(f"cast({pre}xor({code}, 1 << {js}[{t + 1}]) "
                   "AS bigint)")
    for a in range(pairs):
        for b in range(a + 1, pairs):
            out.append(f"cast({pre}xor({code}, (1 << {js}[{a + 1}]) "
                       f"| (1 << {js}[{b + 1}])) AS bigint)")
    return out


def _ann_probe_sql_lists() -> tuple[str, str]:
    """(build_list, probe_list) SQL — composed from the SAME directed
    parameters and generators the Spark plan uses, so the oracle is
    structurally the multiprobe query, not a transcription."""
    off = 1 << ANN_FINE_BITS
    build = f"[cast(b0 AS bigint), cast({off} + f1 AS bigint)]"
    probes = _directed_sql("b0", "jc", *ANN_COARSE_DIRECTED)
    probes += _directed_sql("f1", "jf", *ANN_FINE_DIRECTED, off=off)
    return build, "[" + ", ".join(probes) + "]"


_ANN_BUILD_SQL, _ANN_PROBE_SQL = _ann_probe_sql_lists()

ORACLE_ANN_LSH_TOPK = f"""
WITH coded AS (
  SELECT vec_id, embedding,
         {_dots_sql('embedding', _HP)} AS dc,
         {_dots_sql('embedding', _HP_FINE)} AS df,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS nrm
  FROM embeddings
), b AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> x / nrm) AS nemb,
         {_code_sql('dc', 8)} AS b0,
         {_code_sql('df', ANN_FINE_BITS)} AS f1,
         {_rank_sql('dc', 8)} AS jc,
         {_rank_sql('df', ANN_FINE_BITS)} AS jf
  FROM coded
), build AS (
  SELECT vec_id, unnest({_ANN_BUILD_SQL}) AS bucket FROM b
), probe AS (
  SELECT vec_id, unnest({_ANN_PROBE_SQL}) AS bucket FROM b
), pair_ids AS (
  SELECT DISTINCT a.vec_id, c.vec_id AS nn_id
  FROM probe a JOIN build c ON a.bucket = c.bucket
                           AND a.vec_id <> c.vec_id
), pairs AS (
  SELECT p.vec_id, p.nn_id,
         round(list_dot_product(x.nemb, y.nemb), 6) AS cos_sim
  FROM pair_ids p JOIN b x ON p.vec_id = x.vec_id
                  JOIN b y ON p.nn_id = y.vec_id
), ranked AS (
  SELECT vec_id, nn_id, cos_sim,
         cast(row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, nn_id ASC) AS int)
             AS rk
  FROM pairs
)
SELECT vec_id, nn_id, cos_sim, rk FROM ranked WHERE rk <= 3
ORDER BY vec_id, rk
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup: events into 5-minute buckets
    x event_type (continuous-aggregate shape; at scale this is the
    incremental materialized rollup over the ingest stream)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").cast("string").alias("bucket"),
                    "event_type", "n", "sum_value")
            .orderBy("bucket", "event_type"))


ORACLE_TIME_ROLLUP = """
SELECT cast(time_bucket(INTERVAL 5 MINUTE, ts) AS varchar) AS bucket,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucketed candidates filtered by
    a cosine threshold — the vector-dedup stage of a training pipeline.
    (Threshold 0.35 keeps the check non-trivial on the synthetic
    embeddings, whose max within-bucket cosine is ~0.46.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = emb.select("vec_id", "embedding",
                   _bucket_expr(F.col("embedding")).alias("bucket"))
    sim = _cos_expr("a.embedding", "c.embedding")
    return (_salted_bucket_pairs(b, lambda a, c: a < c)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("c.vec_id").alias("vec_b"),
                    sim.alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.35)
            .orderBy("vec_a", "vec_b"))


ORACLE_EMBEDDING_NEARDUP = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       round(list_dot_product(a.embedding::DOUBLE[], c.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                      a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]))), 6)
           AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], c.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                     a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                       c.embedding::DOUBLE[]))), 6) >= 0.35
ORDER BY vec_a, vec_b
"""



def q_extract_pages_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page extraction through a real Python UDTF (1 doc row -> N
    page rows via LATERAL) — the UDTF surface of SURVEY §2.12. The
    Arrow mapInArrow path remains the throughput route; this covers the
    table-function API."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="page_no int, page_text string")
    class ExtractPages:
        def eval(self, html):
            from pdfio_spark.pd.extract import extract_doc
            r = extract_doc(bytes(html) if html is not None else b"")
            for p in r["pages"]:
                yield p["page_no"], p["text"]

    spark.udtf.register("extract_pages", ExtractPages)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 100))
    corpus = gen_pdf_corpus(docs, classes=["multipage"])
    corpus.createOrReplaceTempView("udtf_corpus")
    return spark.sql(
        "SELECT c.url, p.page_no, p.page_text "
        "FROM udtf_corpus c, LATERAL extract_pages(c.html) p "
        "ORDER BY c.url, p.page_no")


ORACLE_EXTRACT_PAGES_UDTF = _LINES_CTE + """
SELECT 'doc://' || doc_id AS url, cast(i AS int) AS page_no,
       repeat(' ', 9) || line AS page_text
FROM l WHERE doc_id < 100 ORDER BY url, page_no
"""


def q_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas grouped-agg UDAF: per-lang median of n_chars (the UDAF
    surface; built-in percentile_approx would be the JVM route)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.functions import PandasUDFType

    # explicit functionType: `from __future__ import annotations` turns
    # type hints into strings, which pandas_udf cannot introspect
    @pandas_udf("double", functionType=PandasUDFType.GROUPED_AGG)
    def pd_median(v):
        return float(v.median())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg
    med = docs.groupBy("lang").agg(
        pd_median("n_chars").alias("median_chars"))
    cnt = docs.groupBy("lang").agg(F.count("*").alias("n"))
    return med.join(cnt, "lang").orderBy("lang")


ORACLE_UDAF_MEDIAN = """
SELECT lang, median(n_chars) AS median_chars, count(*) AS n
FROM documents GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------
# multimodal plane (binary containers + typed metadata)
# ---------------------------------------------------------------------

def q_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plane in ONE query: binary container header parsing
    (all media), thumbnail resize geometry (images, kind 0), and
    per-second frame sampling (videos, kind 2) — Arrow UDF stages over
    the same corpus, left-joined per media_id with the pruned sides
    broadcast. Decode is REAL for uncompressed formats (r4: BMP +
    WAV-PCM16, pure-numpy codecs.py, sniffed by magic in the decode
    hooks); compressed codecs (JPEG/Opus/H.264) remain the documented
    sandbox stub behind the same hooks. Header parsing, Arrow
    batching, and the resize/sample math are real and oracled.
    (r3: merged the three r2 media queries.)"""
    from .multimodal import (gen_media_corpus, media_metadata,
                             media_thumbnail, media_frame_sample)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = gen_media_corpus(emb)
    md = media_metadata(corpus)
    th = media_thumbnail(corpus).select("media_id", "out_w", "out_h")
    # project away the r6 decoded/mean_px columns: the registry query
    # runs codec-less, where n_frames is exactly the oracled header
    # synthesis — schema stays the r5 contract
    fr = media_frame_sample(corpus).select("media_id", "n_frames")
    # th/fr are one row per media row — corpus-sized, not dims;
    # shuffle joins (r5 review)
    return (md.join(th, "media_id", "left")
            .join(fr, "media_id", "left")
            .orderBy("media_id"))


ORACLE_MEDIA = """
WITH m AS (
  SELECT vec_id AS media_id,
         cast(vec_id % 3 AS int) AS kind,
         cast(64 + (vec_id * 7) % 512 AS int) AS width,
         cast(64 + (vec_id * 13) % 512 AS int) AS height,
         cast((vec_id * 31) % 60000 AS bigint) AS dur_ms,
         cast(vec_id % 4 AS int) AS codec,
         cast(256 + (vec_id * 11) % 1024 AS bigint) AS body_bytes
  FROM embeddings
)
SELECT media_id, kind, width, height, dur_ms, codec, body_bytes,
       cast(CASE WHEN kind = 0 THEN
            CASE WHEN greatest(width, height) <= 128 THEN width
                 ELSE greatest(1, (width * 128) // greatest(width, height))
            END END AS int) AS out_w,
       cast(CASE WHEN kind = 0 THEN
            CASE WHEN greatest(width, height) <= 128 THEN height
                 ELSE greatest(1, (height * 128) // greatest(width, height))
            END END AS int) AS out_h,
       cast(CASE WHEN kind = 2 THEN dur_ms // 1000 + 1 END AS int)
           AS n_frames
FROM m ORDER BY media_id
"""


# ---------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------

# --------------------------------------------------------------------
# HTML main-content extraction (north-rule web-page half): synthetic
# Common-Crawl-style pages around the same chunk contract the PDF
# fixtures use, stripped by a DOM block-scoring heuristic (see
# html_extract.py). Byte-identical main text per url, oracled by the
# shared _LINES_CTE.
# --------------------------------------------------------------------

def q_html_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip via DOM block-scoring heuristics (the
    north rule's web-page half): deterministic Common-Crawl-style pages
    (nav/masthead/link-sidebar/footer/script around the doc text, the
    content container cycling article/main/div by doc_id%3) are reduced
    to main text by density scoring — drop semantic-boilerplate
    ancestors, group blocks by nearest container, score containers by
    non-link text mass x (1 - link density). Extracted main_text is
    byte-identical to the source text contract per url."""
    from .html_extract import extract_html, gen_html_corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_html(gen_html_corpus(docs))


def _html_main_oracle() -> str:
    # probe constants come from html_extract so the oracle cannot
    # drift from the builder (same reason _LINES_CTE mirrors fixtures)
    from .html_extract import CP1252_PROBE, SJIS_PROBE
    return _LINES_CTE + f"""
SELECT 'doc://' || doc_id AS url,
       'Doc ' || doc_id AS title,
       string_agg(line, chr(10) ORDER BY i)
         || CASE doc_id % 4
              WHEN 2 THEN chr(10) || '{CP1252_PROBE}'
              WHEN 3 THEN chr(10) || '{SJIS_PROBE}'
              ELSE '' END AS main_text,
       count(*) + CASE WHEN doc_id % 4 IN (2, 3) THEN 1 ELSE 0 END
           AS n_blocks,
       'ok' AS status
FROM l GROUP BY doc_id
"""


ORACLE_HTML_MAIN = _html_main_oracle()


# Registry ordering is a contract: the driver correctness-checks the
# first 50 entries in insertion order, so the whole registry is kept at
# <= 50 oracled queries (r3 consolidation; was 66 in r2, which silently
# un-verified the dedup/ANN/media tail). Rows-only queries sit LAST —
# they carry the weakest signal, so they are the cheapest to lose if
# the registry ever grows past the window again (r6: only
# q_extract_spans remains rows-only; the seed-dependent dedup variants
# were retired for the oracled line/substr dedup queries).
QUERIES = {
    # extraction plane (full parse stack in the UDF)
    "q_extract_core": _extract_query(
        ["flate_simple", "plain_uncompressed", "xref_stream", "objstm",
         "filter_asciihex", "filter_ascii85", "filter_rle", "filter_lzw",
         "filter_chain", "contents_array", "header_offset", "inline_image",
         "marked_artifact", "xref_hybrid", "flate_corrupt", "incremental",
         "flate_tiff_pred", "xobject_form", "ccitt_image"]),
    "q_extract_fonts": _extract_query(
        ["font_cid", "font_winansi", "font_macroman", "font_symbol",
         "font_zapf", "font_type3"]),
    "q_extract_multipage": _extract_query(["multipage"]),
    "q_extract_sharded": q_extract_sharded,
    "q_extract_encrypted": _extract_query(
        ["encrypt_rc4_128", "encrypt_aes256", "encrypt_rc4_40",
         "encrypt_aes128", "encrypt_owner_pw", "encrypt_pki"]),
    "q_extract_quarantine": q_extract_quarantine,
    "q_extract_spans_courier": q_extract_spans_courier,
    "q_page_labels": q_page_labels,
    "q_struct_roles": q_struct_roles,
    "q_signatures": q_signatures,
    "q_outline_dest": q_outline_dest,
    "q_attachments": q_attachments,
    "q_doc_metadata": q_doc_metadata,
    "q_page_geometry": q_page_geometry,
    # pipeline plane
    "q_verify_join": q_verify_join,
    "q_extract_metrics": q_extract_metrics,
    "q_resume_antijoin": q_resume_antijoin,
    "q_skew_diagnosis": q_skew_diagnosis,
    # SQL plane
    "q_pricing_summary": q_pricing_summary,
    "q_top_customers": q_top_customers,
    "q_order_priority_window": q_order_priority_window,
    "q_regression_except": q_regression_except,
    "q_events_sessionize": q_events_sessionize,
    "q_asof_join": q_asof_join,
    "q_range_join": q_range_join,
    "q_events_running_window": q_events_running_window,
    "q_semijoin_customers": q_semijoin_customers,
    "q_sample": q_sample,
    "q_rollup_revenue": q_rollup_revenue,
    "q_time_rollup": q_time_rollup,
    "q_embedding_neardup": q_embedding_neardup,
    "q_distinct_sanity": q_distinct_sanity,
    # training-data ops
    "q_dedup_pipeline": q_dedup_pipeline,
    "q_text_analytics": q_text_analytics,
    "q_repetition_filter": q_repetition_filter,
    "q_ann_bruteforce": q_ann_bruteforce,
    "q_dedup_minhash_md5": q_dedup_minhash_md5,
    "q_dedup_components": q_dedup_components,
    "q_dedup_simhash_md5": q_dedup_simhash_md5,
    "q_line_dedup": q_line_dedup,
    "q_substr_dedup": q_substr_dedup,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_lsh_buckets": q_lsh_buckets,
    "q_ann_lsh_topk": q_ann_lsh_topk,
    "q_ann_ivf": q_ann_ivf,
    # multimodal / API-surface plane
    "q_extract_pages_udtf": q_extract_pages_udtf,
    "q_udaf_median": q_udaf_median,
    "q_media": q_media,
    # web-page plane (north-rule HTML boilerplate strip)
    "q_html_main": q_html_main,
    # rows-only tail (hash-seed- or kern-dependent; each has an oracled
    # twin above: _md5 variants, q_extract_spans_courier).
    # q_dedup_minhash left the registry in r6 to free a slot for the
    # fully-oracled q_substr_dedup (the 50-entry cap); it remains the
    # fast xxhash production variant (bench.py resolves it from the
    # module), covered by its _md5 oracled twin + pytests.
    "q_extract_spans": q_extract_spans,
}

ORACLES = {
    "q_extract_core": _ORACLE_SINGLEPAGE,
    "q_extract_fonts": _ORACLE_FONTS,
    "q_extract_multipage": _ORACLE_MULTIPAGE,
    "q_extract_sharded": _ORACLE_MULTIPAGE,
    "q_extract_encrypted": _ORACLE_SINGLEPAGE,
    "q_extract_quarantine": ORACLE_EXTRACT_QUARANTINE,
    "q_extract_spans_courier": ORACLE_EXTRACT_SPANS_COURIER,
    "q_page_labels": ORACLE_PAGE_LABELS,
    "q_struct_roles": ORACLE_STRUCT_ROLES,
    "q_signatures": ORACLE_SIGNATURES,
    "q_outline_dest": ORACLE_OUTLINE_DEST,
    "q_attachments": ORACLE_ATTACHMENTS,
    "q_doc_metadata": ORACLE_DOC_METADATA,
    "q_page_geometry": ORACLE_PAGE_GEOMETRY,
    "q_verify_join": ORACLE_VERIFY_JOIN,
    "q_extract_metrics": ORACLE_EXTRACT_METRICS,
    "q_resume_antijoin": ORACLE_RESUME_ANTIJOIN,
    "q_skew_diagnosis": ORACLE_SKEW_DIAGNOSIS,
    "q_pricing_summary": ORACLE_PRICING_SUMMARY,
    "q_top_customers": ORACLE_TOP_CUSTOMERS,
    "q_order_priority_window": ORACLE_ORDER_PRIORITY_WINDOW,
    "q_regression_except": ORACLE_REGRESSION_EXCEPT,
    "q_events_sessionize": ORACLE_EVENTS_SESSIONIZE,
    "q_asof_join": ORACLE_ASOF_JOIN,
    "q_range_join": ORACLE_RANGE_JOIN,
    "q_events_running_window": ORACLE_EVENTS_RUNNING_WINDOW,
    "q_semijoin_customers": ORACLE_SEMIJOIN_CUSTOMERS,
    "q_sample": ORACLE_SAMPLE,
    "q_rollup_revenue": ORACLE_ROLLUP_REVENUE,
    "q_time_rollup": ORACLE_TIME_ROLLUP,
    "q_embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
    "q_distinct_sanity": ORACLE_DISTINCT_SANITY,
    "q_dedup_pipeline": ORACLE_DEDUP_PIPELINE,
    "q_text_analytics": ORACLE_TEXT_ANALYTICS,
    "q_repetition_filter": ORACLE_REPETITION_FILTER,
    "q_ann_bruteforce": ORACLE_ANN_BRUTEFORCE,
    "q_dedup_minhash_md5": ORACLE_DEDUP_MINHASH_MD5,
    "q_dedup_components": ORACLE_DEDUP_COMPONENTS,
    "q_dedup_simhash_md5": ORACLE_DEDUP_SIMHASH_MD5,
    "q_line_dedup": ORACLE_LINE_DEDUP,
    "q_substr_dedup": ORACLE_SUBSTR_DEDUP,
    "q_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "q_lsh_buckets": ORACLE_LSH_BUCKETS,
    "q_ann_lsh_topk": ORACLE_ANN_LSH_TOPK,
    "q_ann_ivf": ORACLE_ANN_IVF,
    "q_extract_pages_udtf": ORACLE_EXTRACT_PAGES_UDTF,
    "q_udaf_median": ORACLE_UDAF_MEDIAN,
    "q_media": ORACLE_MEDIA,
    "q_html_main": ORACLE_HTML_MAIN,
    # q_extract_spans: span widths depend on AFM kerning sums ->
    # rows-only (oracled twin: q_extract_spans_courier)
}
