"""Measurement helpers: drift probe, peak RSS, quantiles, kernel spans and
the Spark event-log reader.

Nothing here touches the program's internals. Kernel spans are taken
around public `cos`/`pd` calls from this file, and Spark's per-stage
numbers come from its own event log.
"""
from __future__ import annotations

import gc
import glob
import json
import os
import statistics
import threading
import time


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile; 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, max(0, int(round(q * len(xs))) - 1))])


# ------------------------------------------------------------ drift probe

def drift_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python CPU loop (dict, string
    and integer work), so a VM phase shift between the start and the
    end of a run shows in the result."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        d: dict = {}
        acc = 0
        for i in range(60_000):
            k = str(i * 7919 % 10007)
            d[k] = d.get(k, 0) + i
            acc ^= hash(k) & 0xFFFF
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ peak RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(st.split("/")[2])
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while `pid` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_mb(root: int) -> float:
    """Resident set of `root` and all its descendants (the driver, the
    JVM it launched and the JVM's Python workers), in MB."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


class PeakRss:
    """Samples the process tree's RSS every `period` seconds while
    active. Each `with` block is one window; `peaks` holds the largest
    sample of every window closed so far."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self.peaks: list[float] = []
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
                time.sleep(self.period)

    def __enter__(self):
        self.peak_mb = tree_rss_mb(os.getpid())
        self._on.set()
        return self

    def __exit__(self, *exc) -> None:
        self._on.clear()
        self.peaks.append(max(self.peak_mb, tree_rss_mb(os.getpid())))

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._t.join(timeout=5)


# ------------------------------------------------------------ kernel spans

class Spans:
    """In-memory spans: (doc, name, parent, start_ns, end_ns)."""

    def __init__(self):
        self.rows: list[tuple] = []

    def add(self, doc: str, name: str, parent: str | None,
            t0: int, t1: int) -> None:
        self.rows.append((doc, name, parent, t0, t1))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(dict(zip(
                    ("doc", "name", "parent", "start_ns", "end_ns"), r)))
                    + "\n")


def traced_extract(key: str, data: bytes, spans: Spans) -> int:
    """Walk one document through the public calls that `extract_doc`
    makes, with a span around each; returns the page count.

    `pd.open` is `PDDoc(data)`, which reopens the COS document itself,
    so its self time is its span minus the `cos.open` span of a
    standalone `CosDoc(data)` on the same bytes (`pd.pagetree`).
    `PDPage.content_bytes` caches the decoded stream, so the
    `content_objects` span after it covers lexing only."""
    from pdfio_spark.cos.doc import CosDoc
    from pdfio_spark.pd.layout import show_text_layout
    from pdfio_spark.pd.pagetree import PDDoc
    ns = time.perf_counter_ns
    t0 = ns()
    CosDoc(data)
    t1 = ns()
    doc = PDDoc(data)
    t2 = ns()
    spans.add(key, "cos.open", "doc", t0, t1)
    spans.add(key, "pd.open", "doc", t1, t2)
    n = doc.page_count()
    for i in range(1, n + 1):
        page = doc.get_page(i)
        if page.is_empty():
            continue
        a = ns()
        page.content_bytes()
        b = ns()
        page.content_objects()
        c = ns()
        state = page.eval_content()
        d = ns()
        show_text_layout(state)
        e = ns()
        spans.add(key, "cos.decode", "page", a, b)
        spans.add(key, "cos.lex", "page", b, c)
        spans.add(key, "pd.interpret", "page", c, d)
        spans.add(key, "pd.layout", "page", d, e)
    spans.add(key, "doc", None, t0, ns())
    return n


def kernel_layers(sample: list[tuple[str, bytes]], rounds: int = 2
                  ) -> tuple[dict, dict, Spans]:
    """Per-layer µs per document over `sample`, alternating untraced
    `extract_doc` passes with traced passes after a short warm-up; each
    figure is the median over rounds. Returns (metrics, solo µs by key,
    spans of the last traced round)."""
    from pdfio_spark.pd.extract import extract_doc
    for _, data in sample[:50]:  # warm the module-level caches
        extract_doc(data)
    # the driver holds the inputs and the Spark session; keep the cyclic
    # collector from rescanning them while the kernel allocates
    gc.collect()
    gc.freeze()
    try:
        per_round, solo_by_key, spans = _layer_rounds(sample, rounds)
    finally:
        gc.unfreeze()
    out = {k: median(r[k] for r in per_round) for k in per_round[0]}
    out["kernel.sample_docs"] = float(len(sample))
    return out, {k: median(v) for k, v in solo_by_key.items()}, spans


def _layer_rounds(sample: list[tuple[str, bytes]], rounds: int):
    from pdfio_spark.pd.extract import extract_doc
    names = ("cos.open", "pd.open", "cos.decode", "cos.lex",
             "pd.interpret", "pd.layout")
    per_round: list[dict] = []
    solo_by_key: dict[str, list[float]] = {k: [] for k, _ in sample}
    spans = Spans()
    for _ in range(rounds):
        solo = 0.0
        for key, data in sample:
            t0 = time.perf_counter_ns()
            extract_doc(data)
            dt = (time.perf_counter_ns() - t0) / 1e3
            solo += dt
            solo_by_key[key].append(dt)
        spans = Spans()
        pages = sum(traced_extract(k, d, spans) for k, d in sample)
        tot = {n: 0.0 for n in names}
        for _, name, _, t0, t1 in spans.rows:
            if name in tot:
                tot[name] += (t1 - t0) / 1e3
        n = len(sample)
        r = {"cos.open_us": tot["cos.open"] / n,
             "pd.pagetree_us": (tot["pd.open"] - tot["cos.open"]) / n,
             "cos.decode_us": tot["cos.decode"] / n,
             "cos.lex_us": tot["cos.lex"] / n,
             "pd.interpret_us": tot["pd.interpret"] / n,
             "pd.layout_us": tot["pd.layout"] / n,
             "pd.pages_per_doc": pages / n,
             "kernel.solo_doc_us": solo / n}
        covered = (tot["pd.open"] + tot["cos.decode"] + tot["cos.lex"]
                   + tot["pd.interpret"] + tot["pd.layout"])
        r["kernel.span_coverage"] = covered / solo
        per_round.append(r)
    return per_round, solo_by_key, spans


# ------------------------------------------------------------ event log

def write_conf_dir(conf_dir: str, work: str) -> None:
    """A Spark conf dir owned by the benchmark: quiet logs and scratch
    space inside `work`."""
    os.makedirs(conf_dir, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false",
             f"spark.local.dir {os.path.join(work, 'spark-local')}",
             f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}",
             f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stdout.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d %p %c{1}: %m%n\n")


def stage_rows(event_dir: str) -> list[dict]:
    """Read every event log under `event_dir` into one row per
    completed stage attempt, keyed by the job description that was set
    when the stage's job started."""
    # Spark 4 writes each application's log as a directory of rolled
    # `events_<n>_<app>` files beside an `appstatus_<app>` marker; stage
    # ids restart with every application, so key by log directory too
    desc_of_stage: dict[tuple, str] = {}
    tasks: dict[tuple, list] = {}
    stages: list[tuple] = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"),
                                 recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith(
                "appstatus"):
            continue
        app = os.path.dirname(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description", "")
                    for sid in ev.get("Stage IDs", ()):
                        desc_of_stage[app, sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    key = (app, ev["Stage ID"], ev["Stage Attempt ID"])
                    tasks.setdefault(key, []).append(ev)
                elif kind == "SparkListenerStageCompleted":
                    stages.append((app, ev["Stage Info"]))
    rows = []
    for app, si in stages:
        key = (app, si["Stage ID"], si.get("Stage Attempt ID", 0))
        ts = tasks.get(key, [])
        row = {"stage": key[1], "attempt": key[2],
               "desc": desc_of_stage.get(key[:2], ""),
               "name": si.get("Stage Name", ""),
               "wall_ms": (si.get("Completion Time", 0)
                           - si.get("Submission Time", 0)),
               "task_ms": [], "gc_ms": 0, "shuffle_write": 0,
               "shuffle_read": 0, "spill": 0, "out_bytes": 0,
               "in_records": 0}
        for t in ts:
            info, m = t.get("Task Info", {}), t.get("Task Metrics") or {}
            row["task_ms"].append(info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0))
            row["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics", {})
            row["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics", {})
            row["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
            row["spill"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
            row["out_bytes"] += m.get("Output Metrics", {}).get(
                "Bytes Written", 0)
            row["in_records"] += m.get("Input Metrics", {}).get(
                "Records Read", 0)
        rows.append(row)
    return rows


def stage_summary(rows: list[dict]) -> dict:
    """Totals over a set of stage rows (one timed unit of work)."""
    tms = [t for r in rows for t in r["task_ms"]]
    p50 = quantile(tms, 0.5)
    # skew of the stage that held the most task time
    top = max(rows, key=lambda r: sum(r["task_ms"]), default=None)
    top_skew = (max(top["task_ms"]) / max(quantile(top["task_ms"], 0.5), 1)
                if top and top["task_ms"] else 0.0)
    return {"stages": len(rows), "tasks": len(tms), "task_ms_p50": p50,
            "task_ms_max": float(max(tms, default=0)),
            "task_skew": top_skew,
            "shuffle_write_mb": sum(r["shuffle_write"] for r in rows) / 1e6,
            "spill_mb": sum(r["spill"] for r in rows) / 1e6,
            "gc_ms": float(sum(r["gc_ms"] for r in rows)),
            "write_stage_ms": float(sum(r["wall_ms"] for r in rows
                                        if r["out_bytes"] > 0))}
