"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship extraction over sf0.001 — synthesize PDFs from
the documents table, run the full parse stack (COS lexer/xref/filters +
content interpreter + fonts + layout) in an Arrow-batched UDF with
size-salted skew repartitioning, return (url, n_pages, text, status).

queries()/oracle_sql(): registry in pdfio_spark/pipeline/queries.py —
extraction-plane queries whose DuckDB oracle predicts the extracted
text in closed form, plus the pipeline/SQL/training-data planes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pdfio_spark.pipeline.job import extract_pdfs, gen_pdf_corpus
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = gen_pdf_corpus(docs)  # cycles all 25 fixture classes
    return (extract_pdfs(corpus)
            .select("url", "n_pages", "text", "status"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from pdfio_spark.pipeline.queries import QUERIES
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (omitted for the
    kern-dependent q_extract_spans -> rows-only check)."""
    from pdfio_spark.pipeline.queries import ORACLES
    return dict(ORACLES)
