"""The two workloads. Each takes a `run.Bench`, sets up (session,
inputs, expectations), warms up untimed, runs its timed region, checks
every output and fills `b.report`.

A traced run (`b.trace`) then restarts the Spark context with the event
log on and repeats warm-up and timed region as phase `traced`; the
per-layer metrics come from that phase, the end-to-end ones from the
untraced phase before it.
"""
from __future__ import annotations

import json
import os
import random
import shutil
import time

import measure
import inputs

SQL_QUERIES = ("q_dedup_pipeline", "q_ann_lsh_topk", "q_substr_dedup",
               "q_ngram_jaccard", "q_text_analytics", "q_html_main")

# pdf_mixed: crawl table size and the share already committed; a step
# takes about 5 s at local[2], and two of them fill --seconds 10
MIXED_DOCS, MIXED_COMMITTED = 1600, 400
# sql_plane: a 10% sample of the sf0.1 documents (5000 rows) and
# embeddings (2000). At local[2] on a shared 4-vCPU host the full tables
# take ~150 s a run (a 24 s oracle, a 60 s checked warm-up pass, a 33 s
# timed pass), a 40%/50% sample ~105 s and this one 70-100 s; a full
# measurement, 48 runs within 57 minutes, leaves about 90 s a run
SQL_DOCS, SQL_VECS = 500, 200
# q_html_main, whose time gives sql_plane's docs_per_s, takes ~1.5 s and
# is timed this many times a pass (median); one run of it spread 0.15
# over six seeds on a calm host
HTML_REPS = 3
# a timed query run during which the host stole more than this share of
# the machine's CPU time is run again, at most STEAL_RERUNS times a pass.
# The wall of a pass grew ~0.85 s per second of host steal during it;
# calm runs read a share of 0.003-0.03, runs slowed by other guests
# 0.08-0.2
STEAL_MAX, STEAL_RERUNS = 0.05, 3
# seeded documents timed layer by layer in the traced run
KERNEL_SAMPLE = 200


# ------------------------------------------------------------ shared

def expectation(row: dict) -> tuple[str, int]:
    """(md5 of the expected text, expected page count) of one PDF."""
    lines = inputs.expected_lines(row["doc_id"], row["text"])
    return (inputs.md5_hex(inputs.text_for_lines(lines)),
            inputs.pages_of(row["doc_id"], len(lines)))


def self_check(b, rows: list[dict], exp: dict) -> None:
    """The closed form agrees with `extract_doc` on each given row."""
    from pdfio_spark.pd.extract import extract_doc
    for r in rows:
        got = extract_doc(r["html"])
        b.check((got["status"], inputs.md5_hex(got["text"]),
                 got["n_pages"]) == ("ok",) + exp[r["url"]],
                f"closed form disagrees with extract_doc on {r['url']}")


def mismatches(got: list, exp: dict) -> int:
    """Rows of (url, n_pages, status, md5) that miss their expectation,
    plus expected urls missing from or repeated in the output."""
    seen: dict[str, int] = {}
    bad = 0
    for url, pages, status, md5 in got:
        seen[url] = seen.get(url, 0) + 1
        if url not in exp or (md5, pages) != exp[url] or status != "ok":
            bad += 1
    bad += sum(1 for u in exp if u not in seen)
    bad += sum(n - 1 for n in seen.values())
    return bad


def summarize(b, its: list[dict]) -> dict:
    walls = [r["wall"] for r in its]
    return {"wall_s": measure.median(walls),
            "docs_per_s": measure.median(r["rows"] / r["wall"]
                                         for r in its),
            "iterations": len(its), "walls": walls}


def kernel_metrics(b, rows: list[dict], its: list[dict], sample_idx
                   ) -> None:
    """Layer spans on a seeded sample, and the in-Spark per-document
    times of the traced iterations."""
    sample = [(rows[i]["url"], rows[i]["html"]) for i in sample_idx]
    layers, solo, spans = measure.kernel_layers(sample)
    spans.dump(os.path.join(b.out, "spans.jsonl"))
    b.report.update(layers)
    durs = [d for r in its for d in r["durs"].values()]
    b.report["kernel.doc_ms_p50"] = measure.quantile(durs, 0.5) / 1e3
    b.report["kernel.doc_ms_p99"] = measure.quantile(durs, 0.99) / 1e3
    b.report["kernel.doc_samples"] = float(len(durs))
    b.report["job.udf_core_share"] = measure.median(
        sum(r["durs"].values()) / 1e6 / (r["wall"] * b.k) for r in its)
    in_spark = sum(measure.median(r["durs"][k] for r in its
                                  if k in r["durs"]) for k in solo)
    b.report["job.udf_inflation"] = in_spark / sum(solo.values())


def event_metrics(b, prefix: str, unit_of) -> dict[str, list[dict]]:
    """Stage rows whose job description starts with `prefix`, grouped by
    `unit_of(description)`; all rows are kept in `stages.jsonl`."""
    rows = measure.stage_rows(b.event_dir)
    with open(os.path.join(b.out, "stages.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    groups: dict[str, list[dict]] = {}
    for row in rows:
        if row["desc"].startswith(prefix):
            groups.setdefault(unit_of(row["desc"]), []).append(row)
    return groups


def job_metrics(b, groups: dict[str, list[dict]]) -> list[dict]:
    sums = [measure.stage_summary(rows) for rows in groups.values()]
    for k in ("tasks", "task_ms_p50", "task_ms_max", "task_skew",
              "shuffle_write_mb", "spill_mb", "gc_ms"):
        b.report[f"job.{k}"] = measure.median(s[k] for s in sums)
    return sums


# ------------------------------------------------------------ pdf_mixed

def pdf_mixed(b) -> None:
    """run_job(mode="pdf", resume=True) over a crawl table of 1600
    bench-shaped PDFs, a seeded quarter of which is already committed in
    the output directory each timed run starts from."""
    from pyspark.sql import functions as F
    from pdfio_spark.pipeline.run import run_job
    from pdfio_spark.pipeline.job import SKEW_THRESHOLD_BYTES
    w = b.work
    in_dir, com_dir = f"{w}/input", f"{w}/committed_input"
    committed = sorted(random.Random(b.seed + 1).sample(
        range(MIXED_DOCS), MIXED_COMMITTED))
    rows: list[dict] = []

    b.report["setup.session_s"] = b.start_spark()

    def gen_inputs():
        rows[:] = inputs.mixed_docs(b.seed, MIXED_DOCS)
        for d in (in_dir, com_dir):
            shutil.rmtree(d, ignore_errors=True)
        inputs.write_parts(inputs.crawl_table(rows), in_dir, 2 * b.k)
        inputs.write_parts(inputs.crawl_table([rows[i] for i in committed]),
                           com_dir, 2)
        return inputs.tree_digest(in_dir) + inputs.tree_digest(com_dir)

    def oracle():
        exp = {r["url"]: expectation(r) for r in rows}
        # the first 25 rows hold one document of each fixture class
        self_check(b, rows[:25], exp)
        return exp

    b.report["setup.input_s"], _ = b.setup_reps(gen_inputs)
    b.report["setup.oracle_s"], exp = b.setup_reps(oracle)
    b.mark("setup")
    b.report["setup_s"] = (b.report["setup.session_s"]
                           + b.report["setup.input_s"]
                           + b.report["setup.oracle_s"])
    com_urls = {rows[i]["url"] for i in committed}
    sizes = [len(r["html"]) for r in rows]
    b.report["input"] = {
        "docs": len(rows), "committed": len(com_urls),
        "mb": sum(sizes) / 1e6, "pages": sum(p for _, p in exp.values()),
        "over_skew_threshold": sum(n > SKEW_THRESHOLD_BYTES for n in sizes)}

    def read_back(out: str) -> list:
        return (b.spark.read.parquet(out)
                .select("url", "n_pages", "status",
                        F.md5("text").alias("m"), "run_id", "dur_us")
                .collect())

    def warm_up():
        """Commit the seeded quarter: the first `run_job` call of a
        Spark context, which also starts its Python workers."""
        seed_out = f"{w}/seed_out"
        for d in (seed_out, f"{w}/seed_met"):
            shutil.rmtree(d, ignore_errors=True)
        b.describe("warmup")
        run_job(b.spark, com_dir, seed_out, f"{w}/seed_met", resume=True,
                run_id="committed")
        got = read_back(seed_out)
        b.check(mismatches([tuple(r[:4]) for r in got],
                           {u: exp[u] for u in com_urls}) == 0,
                "committed rows mismatch")

    def step(i: int) -> dict:
        out, met = f"{w}/out", f"{w}/met"
        for d in (out, met):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(f"{w}/seed_out", out)
        shutil.copytree(f"{w}/seed_met", met)
        before = set(os.listdir(out))
        rid = f"timed{i}"
        b.describe(f"timed:{i}")
        with b.rss:
            t0 = time.perf_counter()
            res = run_job(b.spark, in_dir, out, met, resume=True,
                          run_id=rid)
            wall = time.perf_counter() - t0
        b.describe("check")
        got = read_back(out)
        bad = mismatches([tuple(r[:4]) for r in got], exp)
        bad += sum(1 for r in got
                   if (r["run_id"] == "committed") != (r["url"] in com_urls))
        bad += abs(res["written"] - (MIXED_DOCS - MIXED_COMMITTED))
        b.count(MIXED_DOCS - MIXED_COMMITTED, min(bad, MIXED_DOCS),
                f"pdf_mixed iteration {i}")
        new = [os.path.join(out, f) for f in os.listdir(out)
               if f.endswith(".parquet") and f not in before]
        return {"wall": wall, "rows": res["written"],
                "durs": {r["url"]: r["dur_us"] for r in got
                         if r["run_id"] == rid},
                "files": len(new),
                "bytes": sum(os.path.getsize(f) for f in new)}

    warm_up()
    # one untimed step more: after the committing run alone, each of the
    # next three steps still took 5-20% less time than the one before
    step(-1)
    b.rss.peaks.clear()
    b.mark("warmup")
    # end-to-end figures come from untraced runs; a traced run takes
    # two steps only, to end within the run time limit
    b.report.update(summarize(b, b.timed_loop(
        step, min_iters=2, share=0 if b.trace else 1)))
    b.report["peak_rss_mb"] = measure.median(b.rss.peaks)
    b.report["rss_peaks_mb"] = b.rss.peaks[:]
    b.mark("timed")
    if not b.trace:
        return

    b.phase = "traced"
    b.start_spark(event_log=True)
    # the JVM is warm from the untraced phase; the committed run warms
    # the new context's Python workers. Half the untraced region: these
    # steps feed counts and ratios, and a traced run must still end
    # within the run time limit
    warm_up()
    b.mark("warmup")
    its = b.timed_loop(step, share=0.5)
    b.mark("timed")
    b.report["trace.overhead_share"] = (summarize(b, its)["wall_s"]
                                        / b.report["wall_s"])
    b.report["traced_walls"] = [r["wall"] for r in its]
    # only uncommitted rows are extracted in a timed step
    fresh = sorted(set(range(len(rows))) - set(committed))
    sample = random.Random(b.seed + 2).sample(fresh, KERNEL_SAMPLE)
    kernel_metrics(b, rows, its, sample)
    b.report["run.rows_skipped"] = float(MIXED_DOCS - its[0]["rows"])
    b.report["run.rows_written"] = measure.median(r["rows"] for r in its)
    b.report["run.files_written"] = measure.median(r["files"] for r in its)
    b.report["run.bytes_written_mb"] = measure.median(
        r["bytes"] for r in its) / 1e6

    # the paper's N -> 4N figure: one step at local[1] and at local[4]
    dps = {}
    for n in (1, min(4, b.cpus)):
        b.phase = f"scaling{n}"
        b.start_spark(cpus=n)
        warm_up()
        dps[n] = summarize(b, b.timed_loop(step, min_iters=1, share=0)
                           )["docs_per_s"]
    b.report["job.scaling_eff_1_to_4"] = dps[n] / (n * dps[1])
    b.stop_spark()

    groups = event_metrics(b, "perfbench:traced:timed:",
                           lambda d: d.rsplit(":", 1)[1])
    sums = job_metrics(b, groups)
    b.report["run.write_stage_ms"] = measure.median(
        s["write_stage_ms"] for s in sums)
    # scan stages of the resume query: shuffle bytes the anti-join moved
    b.report["run.antijoin_shuffle_mb"] = measure.median(
        sum(r["shuffle_write"] for r in rows_ if r["in_records"] > 0) / 1e6
        for rows_ in groups.values())


# ------------------------------------------------------------ sql_plane

def sql_plane(b) -> None:
    """The six oracled queries over a seeded sample of the sf0.1
    `documents`/`embeddings` tables, each to a noop sink, with isolation
    between queries. Outputs are checked on the warm-up pass, which
    collects them; the timed passes write to noop and are not counted
    in `attempted`."""
    import duckdb
    from pdfio_spark.pipeline import queries as Q
    sf = f"{b.work}/sf"
    check_oracle = _check_oracle_module()

    b.report["setup.session_s"] = b.start_spark()

    def gen_inputs():
        shutil.rmtree(sf, ignore_errors=True)
        inputs.sql_subset(b.seed, SQL_DOCS, SQL_VECS, sf)
        return inputs.tree_digest(sf)

    b.report["setup.input_s"], _ = b.setup_reps(gen_inputs)

    def oracle():
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{sf}/{t}.parquet'")
            out = {}
            for q in SQL_QUERIES:
                rel = con.sql(Q.ORACLES[q])
                b.check(not check_oracle.unsafe_columns(rel),
                        f"{q}: oracle column types not hash-safe")
                cols = [d[0] for d in rel.description]
                got = rel.fetchall()
                out[q] = (len(got), sorted(cols),
                          check_oracle.table_hash(cols, got))
            return out
        finally:
            con.close()

    b.report["setup.oracle_s"], expected = b.setup_reps(oracle)
    b.mark("setup")
    b.report["setup_s"] = (b.report["setup.session_s"]
                           + b.report["setup.input_s"]
                           + b.report["setup.oracle_s"])
    b.report["input"] = {"documents": SQL_DOCS, "embeddings": SQL_VECS,
                         "oracle_rows": {q: v[0] for q, v in
                                         expected.items()}}

    def warm_up():
        wrong = []
        for q in SQL_QUERIES:
            b.describe(f"warmup:{q}")
            df = Q.QUERIES[q](b.spark, sf)
            got = [tuple(r) for r in df.collect()]
            have = (len(got), sorted(df.columns),
                    check_oracle.table_hash(df.columns, got))
            if have != expected[q]:
                wrong.append(q)
            del df, got
            b.isolate()
        b.count(len(SQL_QUERIES), len(wrong),
                "sql_plane queries differing from their oracle "
                + ",".join(wrong))

    def execute(q: str, label: str) -> tuple[float, float]:
        """One run of `q` to the noop sink: (wall seconds, share of the
        machine's CPU time the host stole meanwhile)."""
        b.describe(label)
        s0, t0 = measure.host_steal_s(), time.perf_counter()
        Q.QUERIES[q](b.spark, sf).write.format("noop").mode("overwrite") \
            .save()
        wall = time.perf_counter() - t0
        share = (measure.host_steal_s() - s0) / (wall * os.cpu_count())
        b.isolate()
        return wall, share

    def step(i: int) -> dict:
        # one RSS window per query: the peak of a whole pass varied by a
        # third between seeds with the JVM heap's growth, and a median over
        # six windows is steadier
        times, reruns = {}, 0
        for q in SQL_QUERIES:
            reps = []
            with b.rss:
                for r in range(HTML_REPS if q == "q_html_main" else 1):
                    # stage rows of one run of each query a pass
                    wall, share = execute(q, f"timed:{q}:{i}" if r == 0
                                          else f"repeat:{q}:{i}")
                    # a run the host slowed is not a measurement of the
                    # program: run it again, keep the least-stolen run
                    while share > STEAL_MAX and reruns < STEAL_RERUNS:
                        reruns += 1
                        again = execute(q, f"repeat:{q}:{i}")
                        if again[1] < share:
                            wall, share = again
                    reps.append(wall)
            times[q] = measure.median(reps)
        return {"wall": sum(times.values()), "times": times,
                "reruns": reruns}

    def finish(its, phase_report: dict) -> None:
        per_q = {q: measure.median(r["times"][q] for r in its)
                 for q in SQL_QUERIES}
        wall = sum(per_q.values())
        # documents per second through the plane's one per-document UDF
        # stage, q_html_main (html_extract); wall_s covers the JVM and
        # shuffle work of all six queries
        phase_report.update({"wall_s": wall,
                             "docs_per_s": SQL_DOCS / per_q["q_html_main"],
                             "iterations": len(its), "query_s": per_q,
                             "walls": [r["wall"] for r in its],
                             "steal_reruns": [r["reruns"] for r in its],
                             "pass_query_s": [r["times"] for r in its]})

    warm_up()
    b.mark("warmup")
    # one timed pass (15-20 s on a calm host, whatever --seconds is). The
    # JIT still compiles in it (~24 s of CPU time, against ~13 s in the
    # pass after), but a second untimed pass costs 18-20 s, which the
    # 48-run budget does not have
    its = b.timed_loop(step, min_iters=1)
    b.mark("timed")
    finish(its, b.report)
    b.report["peak_rss_mb"] = measure.median(b.rss.peaks)
    b.report["rss_peaks_mb"] = b.rss.peaks[:]
    if not b.trace:
        return
    b.phase = "traced"
    # no second warm-up: the JVM is warm from the untraced phase, and a
    # traced run must end within the run time limit
    b.start_spark(event_log=True)
    its = b.timed_loop(step, min_iters=1, share=0)
    b.mark("timed")
    traced: dict = {}
    finish(its, traced)
    b.report["trace.overhead_share"] = traced["wall_s"] / b.report["wall_s"]
    for q in SQL_QUERIES:
        b.report[f"queries.{q}_s"] = traced["query_s"][q]
    b.stop_spark()
    groups = event_metrics(b, "perfbench:traced:timed:",
                           lambda d: d.split(":", 3)[3])
    for q in SQL_QUERIES:
        sums = [measure.stage_summary(rows) for key, rows in groups.items()
                if key.rsplit(":", 1)[0] == q]
        b.report[f"queries.{q}.stages"] = measure.median(
            s["stages"] for s in sums)
        b.report[f"queries.{q}.shuffle_mb"] = measure.median(
            s["shuffle_write_mb"] for s in sums)
        b.report[f"queries.{q}.task_skew"] = measure.median(
            s["task_skew"] for s in sums)
    # job.* over each whole timed pass
    job_metrics(b, event_metrics(b, "perfbench:traced:timed:",
                                 lambda d: d.rsplit(":", 1)[1]))


def _check_oracle_module():
    """The oracle normalization of tools/check_oracle.py (row count and
    sorted-column value hash), loaded from the checkout."""
    import importlib.util
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {"pdf_mixed": pdf_mixed, "sql_plane": sql_plane}
