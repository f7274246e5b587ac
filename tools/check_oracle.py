#!/usr/bin/env python3
"""Run queries() against oracle_sql() via DuckDB the way the driver
does: row count + sorted-column value hash, at sf0.01 by default.

Usage: python3 tools/check_oracle.py [query ...]
"""
from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    import math
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


# DuckDB column types the driver's normalization is known to hash the
# same way Spark does. Anything else (HUGEINT from sum(int) OVER,
# DECIMAL from bare numeric literals, ...) stringifies identically in
# Python here but NOT in the driver — reject outright so local green
# implies driver green (the r1/r2 sessionize/running_window lesson).
SAFE_DUCKDB_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP",
}


def unsafe_columns(rel) -> list[str]:
    bad = []
    for name, t in zip(rel.columns, rel.types):
        tid = str(t).upper()
        base = tid.split("(", 1)[0].strip()
        if base not in SAFE_DUCKDB_TYPES:
            bad.append(f"{name}:{tid}")
    return bad


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entrymod
    from pdfio_spark.pipeline.session import get_spark

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # Registry hygiene (driver reads the FIRST 50 in insertion order;
    # the r2 window bug was queries silently falling off the end):
    # hard cap at 50, and rows-only entries must sit at the tail so no
    # oracled query is displaced by one that can't be value-checked.
    if len(qs) > 50:
        raise SystemExit(
            f"registry has {len(qs)} entries > driver cap of 50 — "
            "merge or retire a query (CLAUDE.md invariant)")
    seen_rows_only = None
    for qname in qs:
        if qname not in oracles:
            seen_rows_only = qname
        elif seen_rows_only is not None:
            raise SystemExit(
                f"oracled query {qname!r} appears after rows-only "
                f"{seen_rows_only!r} — rows-only entries must be last")
    args = sys.argv[1:]
    # --repeat N: build + run each Spark query N times in ONE session.
    # Catches conversion-dependent nondeterminism (the r3 binary-HOF-
    # lambda bug made minhash values depend on the session-global
    # lambda-variable counter, so a single conversion always looked
    # deterministic).
    repeat = 1
    if "--repeat" in args:
        k = args.index("--repeat")
        try:
            repeat = int(args[k + 1])
        except (IndexError, ValueError):
            sys.exit("usage: check_oracle.py [--repeat N] [q_name ...]")
        args = args[:k] + args[k + 2:]
    names = args or list(qs)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    n_pass = n_fail = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
            unstable = False
            for rep in range(1, repeat):
                df2 = qs[name](spark, sf_dir)   # fresh conversion
                srows2 = [tuple(r) for r in df2.collect()]
                if sorted(map(repr, srows2)) != sorted(map(repr, srows)):
                    d21 = sorted(set(map(repr, srows2))
                                 - set(map(repr, srows)))
                    d12 = sorted(set(map(repr, srows))
                                 - set(map(repr, srows2)))
                    print(f"{name:28s} FAIL nondeterministic across "
                          f"conversions (rep {rep}: {len(srows2)} vs "
                          f"{len(srows)} rows)")
                    # Value-level flakes keep cardinality equal (the r3
                    # md5-lambda case) — show the first differing row.
                    if d21:
                        print(f"  rep{rep}-only: {d21[0][:200]}")
                    if d12:
                        print(f"  rep0-only:    {d12[0][:200]}")
                    n_fail += 1
                    unstable = True
                    break
            if unstable:
                continue
            if name not in oracles:
                print(f"{name:28s} ROWS-ONLY rows={len(srows)}")
                continue
            rel = con.sql(oracles[name])
            bad = unsafe_columns(rel)
            if bad:
                n_fail += 1
                print(f"{name:28s} FAIL unsafe oracle column types: "
                      f"{', '.join(bad)} (cast to BIGINT/DOUBLE/VARCHAR)")
                continue
            orows = rel.fetchall()
            ocols = [d[0] for d in rel.description]
            sh = table_hash(scols, srows)
            oh = table_hash(ocols, orows)
            ok = (len(srows) == len(orows)
                  and sorted(scols) == sorted(ocols) and sh == oh)
            n_pass += ok
            n_fail += not ok
            print(f"{name:28s} {'PASS' if ok else 'FAIL'} "
                  f"rows={len(srows)}/{len(orows)} hash={sh}/{oh} "
                  f"cols={sorted(scols) == sorted(ocols)}")
            if not ok and len(srows) and len(orows):
                sset = {tuple(norm_cell(v) for v in r) for r in
                        ([tuple(r[scols.index(c)] for c in sorted(scols))
                          for r in srows])}
                oset = {tuple(norm_cell(v) for v in r) for r in
                        ([tuple(r[ocols.index(c)] for c in sorted(ocols))
                          for r in orows])}
                only_s = list(sset - oset)[:2]
                only_o = list(oset - sset)[:2]
                print("  spark-only:", only_s)
                print("  oracle-only:", only_o)
        except Exception as e:
            n_fail += 1
            print(f"{name:28s} ERROR {type(e).__name__}: {e}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    # nonzero exit on ANY failure so the gate can be scripted
    # (check_windows_sf1.py already plumbs the returncode; it used to
    # always see 0 — r5 review)
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
