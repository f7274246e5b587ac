#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload pdf_mixed --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):
`pdf_mixed` (run_job over a crawl table with resume) and `sql_plane`
(six oracled queries to a noop sink). Inputs are generated from
`--seed`; the timed region runs for about `--seconds` seconds after an
untimed warm-up; every output is checked against an expectation that
does not come from the extraction kernel.

With `--trace 0` the last stdout line carries the end-to-end metrics.
With `--trace 1` the run also restarts the Spark context with its event
log on, repeats the timed region, times the kernel's layers on a seeded
sample, and the last line carries the per-layer metrics. The line
before it is the full report, which is also written to
`.perfbench_out/<workload>/<trace|untraced>.json`.
"""
from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402

# each set-up step (input generation, expectations) runs this many times
# and reports its median; the session starts once
SETUP_REPS = 2


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them; a metric a workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Bench:
    """State of one benchmark run: directories, session, checks and the
    figures gathered so far."""

    def __init__(self, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        # local[2] leaves the JVM, the driver and the host's own load
        # room on a shared 4-vCPU VM: pdf_mixed steps over 2400 documents
        # and three alternating seeds read 4.87-4.95 s at local[2]
        # against 3.44-4.12 s at local[4]
        self.k = min(2, self.cpus)
        self.work = os.path.join(ROOT, ".perfbench_work", workload)
        self.out = os.path.join(ROOT, ".perfbench_out", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.out, exist_ok=True)
        self.event_dir = os.path.join(self.work, "events")
        self.spark = None
        self.phase = "untraced"
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.report: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace),
                             "k": self.k, "phase_s": {}, "steal_s": {}}
        self._mark = time.perf_counter()
        self._steal = measure.host_steal_s()
        self.rss = measure.PeakRss()

    # ---- checks
    def check(self, ok: bool, what: str) -> bool:
        """A set-up or self-check; a failure makes the run incorrect."""
        if not ok:
            self.problems.append(what)
        return ok

    def count(self, attempted: int, failed: int, what: str) -> None:
        """Outputs of timed work: `failed` of `attempted` mismatched."""
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.problems.append(f"{what}: {failed}/{attempted} mismatched")

    # ---- Spark
    def start_spark(self, cpus: int | None = None, event_log: bool = False):
        """Start (or restart) the Spark session; returns seconds taken.
        The first start launches the JVM with this benchmark's conf dir;
        a restart with `event_log` turns Spark's event log on through
        JVM system properties, which a new SparkContext reads."""
        if self.spark is None:
            conf = os.path.join(self.work, "conf")
            measure.write_conf_dir(conf, self.work)
            os.environ["SPARK_CONF_DIR"] = conf
            os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work,
                                                          "spark-local")
            os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
            # Python workers import the program from this checkout
            os.environ["PYTHONPATH"] = os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        else:
            jvm = self.spark.sparkContext._jvm
            self.stop_spark()
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            for k, v in (("spark.eventLog.enabled", "true"),
                         ("spark.eventLog.dir", "file://" + self.event_dir),
                         ("spark.eventLog.compress", "false")):
                jvm.System.setProperty(k, v)
        from pdfio_spark.pipeline.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(cpus=cpus or self.k,
                               app=f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def mark(self, step: str) -> None:
        """Record the seconds since the previous mark under `phase_s`, so
        the report shows where a run's wall time went, and the host's CPU
        steal over them under `steal_s`, so a run slowed by other guests
        shows as such."""
        now, steal = time.perf_counter(), measure.host_steal_s()
        key = f"{self.phase}.{step}"
        self.report["phase_s"][key] = now - self._mark
        self.report["steal_s"][key] = steal - self._steal
        self._mark, self._steal = now, steal

    def describe(self, what: str) -> None:
        """Job description for the event log: perfbench:<phase>:<what>."""
        self.spark.sparkContext.setLocalProperty(
            "spark.job.description", f"perfbench:{self.phase}:{what}")

    def isolate(self) -> None:
        """Between queries: drop Python garbage, then the JVM's."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def timed_loop(self, step, min_iters: int = 3,
                   share: float = 1.0) -> list[dict]:
        """Call step(i) at least `min_iters` times, then while another
        step brings the timed seconds closer to `share` of --seconds;
        each step returns a dict with `wall`."""
        out, spent = [], 0.0
        while (len(out) < min_iters
               or spent + spent / len(out) / 2 < share * self.seconds):
            r = step(len(out))
            spent += r["wall"]
            out.append(r)
        return out

    def setup_reps(self, fn):
        """Run a deterministic set-up step `SETUP_REPS` times; returns
        (median seconds, the first result) and checks every result
        agrees."""
        times, results = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            results.append(fn())
            times.append(time.perf_counter() - t0)
        self.check(all(r == results[0] for r in results[1:]),
                   f"set-up step {fn.__name__} is not deterministic")
        return measure.median(times), results[0]

    def stop_spark(self) -> None:
        """Stop the session, which also completes its event log."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the sampler, Spark and the JVM, and wait until no process
        this run started is left."""
        self.rss.close()
        self.stop_spark()
        started = measure.descendants(os.getpid())
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        # Python workers outlive the JVM briefly, reparented
        deadline = time.monotonic() + 30
        while (any(measure.alive(p) for p in started)
               and time.monotonic() < deadline):
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdfio_spark")):
        print(f"perfbench: no pdfio_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (one of "
              f"{', '.join(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    end_to_end, per_layer = declared_metrics()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        b.report["drift.probe_start_ms"] = measure.drift_probe_ms()
        workloads.WORKLOADS[args.workload](b)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.close()
    b.report["drift.probe_end_ms"] = measure.drift_probe_ms()
    shutil.rmtree(b.work, ignore_errors=True)

    rep = b.report
    rep["failed_share"] = b.failed / max(b.attempted, 1)
    rep["problems"] = b.problems
    name = "trace" if b.trace else "untraced"
    with open(os.path.join(b.out, f"{name}.json"), "w") as f:
        json.dump(rep, f, indent=1, sort_keys=True)
    for m, u in dict(end_to_end, failed_share="share").items():
        print(f"{args.workload} {m} = {rep[m]:.6g} {u}")
    print(json.dumps(rep, sort_keys=True))
    metrics = {m: {"value": float(rep.get(m, 0.0)), "unit": u}
               for m, u in (per_layer if b.trace else end_to_end).items()}
    print(json.dumps({"correct": not b.problems, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
