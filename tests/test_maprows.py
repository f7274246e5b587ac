"""map_rows, the one row -> Arrow batch encoder of every mapInArrow UDF,
and the sharded path's SQL reassembly."""
import re
from pathlib import Path

import pytest

pytest.importorskip("pyspark")

from pdfio_spark.pipeline.job import _reassemble_shards  # noqa: E402
from pdfio_spark.pipeline.maprows import map_rows  # noqa: E402
from pdfio_spark.pipeline.session import get_spark  # noqa: E402

PKG = Path(__file__).resolve().parents[1] / "pdfio_spark"


def test_one_batch_encoder():
    """Every Arrow-batched UDF goes through map_rows: no other module
    calls mapInArrow, builds a RecordBatch or declares an Arrow schema.
    (applyInPandasWithState, the UDTF and the grouped-agg pandas UDF are
    other APIs and do not match.)"""
    pat = re.compile(r"mapInArrow\(|RecordBatch\.from_arrays|pa\.schema\(")
    helper = PKG / "pipeline" / "maprows.py"
    hits = [f"{p.relative_to(PKG)}:{i}: {line.strip()}"
            for p in sorted(PKG.rglob("*.py")) if p != helper
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pat.search(line)]
    assert hits == []


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cpus=2, app="pdfio_spark_maprows_tests",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


ALL_TYPES = ("s string, i int, l long, d double, b boolean, y binary, "
             "a array<string>, m map<string,string>")


def test_no_output_rows_keep_the_declared_schema(spark):
    from pyspark.sql.types import StructType

    def rows(x):
        return ()

    out = map_rows(spark.range(10, numPartitions=3), ["id"], ALL_TYPES,
                   rows)
    assert out.schema == StructType.fromDDL(ALL_TYPES)
    assert out.collect() == []


def test_zero_or_two_rows_per_input_row(spark):
    def rows(i):
        if i % 2:
            yield i, "first"
            yield i, "second"

    out = map_rows(spark.range(7, numPartitions=2), ["id"],
                   "id long, tag string", rows).collect()
    assert sorted((r["id"], r["tag"]) for r in out) == [
        (i, t) for i in (1, 3, 5) for t in ("first", "second")]


def test_none_in_every_type(spark):
    full = ("x", 1, 2**40, 0.5, True, b"\x00\xff", ["p", None], {"k": "v"})

    def rows(i):
        yield full if i == 0 else (None,) * len(full)

    out = {r["i"]: r for r in map_rows(
        spark.range(2, numPartitions=1), ["id"], ALL_TYPES, rows).collect()}
    got = out[1]
    assert (got["s"], got["i"], got["l"], got["d"], got["b"],
            bytes(got["y"]), got["a"], got["m"]) == full
    assert list(out[None].asDict().values()) == [None] * len(full)


def test_null_input_reaches_rows(spark):
    df = spark.createDataFrame([("a", b"x"), (None, None)],
                               "url string, html binary")

    def rows(url, html):
        yield url, html is None, None if html is None else len(html)

    out = map_rows(df, ["url", "html"],
                   "url string, null_html boolean, n long", rows).collect()
    assert sorted(out, key=lambda r: r["url"] or "") == [
        (None, True, None), ("a", False, 1)]


def test_wrong_tuple_width_fails_the_task(spark):
    def rows(i):
        yield (i,) if i == 3 else (i, "x")

    with pytest.raises(Exception):
        map_rows(spark.range(5, numPartitions=1), ["id"],
                 "id long, tag string", rows).collect()


PARTS = ("url string, shard_id int, n_pages int, text string, "
         "status string, err string")

LONG_X, LONG_Y = "x" * 1500, "y" * 1500

# url -> ([(shard_id, text, status, err)], (text, status, err)) expected
LATTICE = {
    "all_ok": ([(0, "a", "ok", ""), (1, "b", "ok", None)], ("ab", "ok", "")),
    "ok_empty": ([(0, "a", "ok", ""), (1, "", "empty", "")],
                 ("a", "ok", "")),
    "all_empty": ([(0, "", "empty", ""), (1, "", "empty", "")],
                  ("", "empty", "")),
    "ok_partial": ([(0, "a", "ok", ""), (1, "b", "partial", "p1")],
                   ("ab", "partial", "p1")),
    "all_partial": ([(0, "a", "partial", "p0"), (1, "b", "partial", "p1")],
                    ("ab", "partial", "p0; p1")),
    "error_empty": ([(0, "", "error", "boom"), (1, "", "empty", "")],
                    ("", "error", "boom")),
    "error_ok": ([(0, "", "error", "boom"), (1, "b", "ok", "")],
                 ("b", "partial", "boom")),
    "timeout_empty": ([(0, "", "empty", ""),
                       (1, "", "timeout", "budget exceeded")],
                      ("", "error", "budget exceeded")),
    "out_of_order": ([(2, "c", "ok", ""), (0, "a", "ok", ""),
                      (1, "b", "ok", "")], ("abc", "ok", "")),
    "long_err": ([(1, "", "error", LONG_Y), (0, "", "error", LONG_X),
                  (2, "c", "ok", None), (3, "", "error", "")],
                 ("c", "partial", (LONG_X + "; " + LONG_Y)[:2000])),
}


def test_sharded_status_lattice(spark):
    """extract_pdfs_sharded's reassembly of shard rows: texts in shard
    order, non-empty errors joined by '; ' and cut to 2000 characters,
    and the ok / empty / partial / error lattice of extract_doc."""
    parts = spark.createDataFrame(
        [(url, sid, 7, text, status, err)
         for url, (shards, _) in LATTICE.items()
         for sid, text, status, err in shards], PARTS).repartition(3)
    got = {r["url"]: r for r in _reassemble_shards(parts).collect()}
    assert sorted(got) == sorted(LATTICE)
    for url, (_, want) in LATTICE.items():
        r = got[url]
        assert (r["text"], r["status"], r["err"]) == want, url
        assert r["n_pages"] == 7
    assert len(got["long_err"]["err"]) == 2000


def test_sharded_reassembly_runs_in_the_jvm(spark):
    from pdfio_spark.fixtures import build_fixture
    from pdfio_spark.pd.extract import extract_doc
    from pdfio_spark.pipeline.job import extract_pdfs_sharded
    pdf = build_fixture("multipage", ["one", "two", "three"])
    plain = extract_doc(pdf)
    df = spark.createDataFrame([("doc://m", bytearray(pdf))],
                               "url string, html binary")
    out = extract_pdfs_sharded(df, pages_per_shard=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert [tuple(r) for r in out.collect()] == [
        ("doc://m", 3, plain["text"], "ok", "")]
