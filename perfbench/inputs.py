"""Seeded inputs and the closed-form expectations they are checked against.

Everything here is a pure function of the workload seed (and, for
sql_plane, of the sf0.1 tables under `data/`). The expected
extraction text is computed from the generating text with the same
formula the DuckDB extraction oracles in `pipeline/queries.py` encode
(sanitize, `Doc <id>: ` prefix, 60-character chunks, at most 8 lines,
each line indented by 9 spaces and ended by one newline). It is written
out here on purpose rather than imported, so a change to the program's
own helpers cannot move the expectation with it.
"""
from __future__ import annotations

import hashlib
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the vocabulary of the repository's synthetic documents table
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
INDENT = " " * 9


def expected_lines(doc_id: int, text: str) -> list[str]:
    s = f"Doc {doc_id}: " + re.sub(r"[^a-zA-Z0-9 .,:;!?-]", " ", text)
    return [s[i:i + 60] for i in range(0, len(s), 60)][:8]


def text_for_lines(lines: list[str]) -> str:
    """Layout text of lines at 14pt leading: one line per row, and one
    newline per line and per page, whatever the page split."""
    return "".join(INDENT + ln + "\n" for ln in lines)


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def doc_texts(rng: random.Random, n: int) -> list[str]:
    """n word-salad texts of 10-99 words."""
    return [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
            for _ in range(n)]


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Write `table` as `parts` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def tree_digest(path: str) -> str:
    """Digest of every file under `path`, to prove regeneration is
    deterministic."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------ pdf inputs

def pages_of(doc_id: int, n_lines: int) -> int:
    from pdfio_spark.fixtures import FIXTURE_CLASSES
    cls = FIXTURE_CLASSES[doc_id % len(FIXTURE_CLASSES)]
    return n_lines if cls in ("multipage", "multipage_labels",
                              "outline_toc") else 1


def mixed_docs(seed: int, n: int) -> list[dict]:
    """Rows of the `pdf_mixed` crawl table: url, html (a bench-shaped
    PDF whose fixture class cycles with doc_id through all of
    `fixtures.FIXTURE_CLASSES`), text, lang and that doc_id."""
    from pdfio_spark.pipeline.job import make_pdf_for_doc
    rng = random.Random(seed)
    base = rng.randrange(1, 10 ** 6) * 25  # every class, evenly
    return [{"url": f"doc://{base + i}",
             "html": make_pdf_for_doc(base + i, txt),
             "text": txt, "lang": rng.choice(LANGS), "doc_id": base + i}
            for i, txt in enumerate(doc_texts(rng, n))]


def crawl_table(rows: list[dict]) -> pa.Table:
    """The input shape `run_job` scans: url, warc_ts, html, text, lang."""
    ts = np.datetime64("2026-01-01T00:00:00", "us")
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([ts] * len(rows), pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


# ------------------------------------------------------------ sql inputs

# the repository's sf0.1 `documents` (5000 rows) and `embeddings` (2000
# rows) tables, copied byte for byte beside this file
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def sql_subset(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> None:
    """Write a seeded sample of `n_docs` documents and `n_vecs`
    embeddings of the sf0.1 tables, in their original row order, as
    `documents.parquet` and `embeddings.parquet` under `out_dir`."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    emb = pq.read_table(os.path.join(DATA, "embeddings.parquet"))
    for name, table, keep in (
            ("documents", docs,
             doc_sample(docs.column("text").to_pylist(), n_docs, rng)),
            ("embeddings", emb,
             sorted(rng.sample(range(emb.num_rows), n_vecs)))):
        pq.write_table(table.take(keep),
                       os.path.join(out_dir, f"{name}.parquet"))


def doc_sample(texts: list[str], n: int, rng: random.Random) -> list[int]:
    """Seeded sample of `n` row indices that keeps each near duplicate
    (an earlier text plus " dup", or the same text again) with the text
    it repeats, so the dedup queries see the table's share of
    duplicates; a plain 10% sample would keep 1% of the pairs."""
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    groups: dict[int, list[int]] = {}
    for i, t in enumerate(texts):
        while t.endswith(" dup") and t[:-4] in first:
            t = t[:-4]
        groups.setdefault(first[t], []).append(i)
    keep: list[int] = []
    for root in rng.sample(sorted(groups), len(groups)):
        if len(keep) + len(groups[root]) <= n:
            keep += groups[root]
        if len(keep) == n:
            break
    return sorted(keep)
