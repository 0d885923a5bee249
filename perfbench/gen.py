"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, workload)``. Page content comes
from the package's own deterministic generator
(``sources.pages.generate_batch``); WARC files are written with
``sources.warc.encode_warc`` (one gzip member per record, html nested in
an HTTP response, the Common Crawl layout). The program under test only
ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from azure_based_pii_redactor_spark.sources.pages import generate_batch
from azure_based_pii_redactor_spark.sources.warc import encode_warc

PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# a re-fetch is crawled this long after the original page
_REFETCH_DELAY = dt.timedelta(days=30)


def pages(seed: int, n: int, start: int = 0) -> list[dict]:
    """``n`` generated pages (url, warc_ts, html, text, lang), row ids
    ``start .. start+n``."""
    pdf = generate_batch(np.arange(start, start + n), seed)
    return [
        {"url": u, "warc_ts": ts.to_pydatetime(), "html": h,
         "text": t, "lang": lg}
        for u, ts, h, t, lg in zip(pdf.url, pdf.warc_ts, pdf.html,
                                   pdf.text, pdf.lang)
    ]


def full_html(text: str, rng: np.random.Generator) -> bytes:
    """Wrap a page's text in a full document (head, style, script, nav,
    paragraphs, footer) so extraction must take the html.parser fallback
    instead of the wrapper fast path."""
    sentences = [s for s in text.replace("\n", " ").split(". ") if s]
    k = max(1, len(sentences) // 3)
    paras = [". ".join(sentences[i:i + k]) for i in range(0, len(sentences), k)]
    nav = "".join(f'<li><a href="/s{j}">Section {j}</a></li>'
                  for j in range(int(rng.integers(3, 7))))
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    doc = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>Page {int(rng.integers(1 << 30))}</title>"
        "<style>body{margin:0} .nav{float:left}</style>"
        "<script>window.dataLayer=[];function gtag(){dataLayer.push(arguments)}"
        "</script></head><body>"
        f"<nav class=\"nav\"><ul>{nav}</ul></nav>\n<main>{body}</main>"
        "<footer><span>&copy; 2024 Example</span></footer>"
        "<script>gtag('config','X-1')</script></body></html>"
    )
    return doc.encode("utf-8")


def with_full_html(rows: list[dict], share: float, seed: int) -> int:
    """Rewrite the html of a seeded ``share`` of ``rows`` in place as a full
    document; returns how many were rewritten."""
    rng = np.random.default_rng([seed, 7])
    picks = rng.random(len(rows)) < share
    for row, pick in zip(rows, picks):
        if pick:
            row["html"] = full_html(row["text"], rng)
    return int(picks.sum())


def refetches(seed: int, originals: list[dict], share: float) -> list[dict]:
    """Later fetches of a seeded ``share`` of ``originals``: same url, a
    newer ``warc_ts`` and freshly generated content (the page changed)."""
    rng = np.random.default_rng([seed, 11])
    idx = np.sort(rng.choice(len(originals), int(len(originals) * share),
                             replace=False))
    fresh = pages(seed + 1_000_003, len(idx))
    out = []
    for i, new in zip(idx, fresh):
        old = originals[int(i)]
        out.append({**new, "url": old["url"],
                    "warc_ts": old["warc_ts"] + _REFETCH_DELAY})
    return out


def write_warc(path: str, rows: list[dict], files: int) -> None:
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        part = [
            {"url": r["url"], "html": r["html"], "warc_ts": r["warc_ts"]}
            for r in rows[f::files]
        ]
        with open(os.path.join(path, f"part-{f:05d}.warc.gz"), "wb") as fh:
            fh.write(encode_warc(part, gzip_members=True, http_wrap=True))


def write_pages(path: str, rows: list[dict], files: int) -> None:
    """Pages parquet, ``files`` files; row order inside a file is the
    generation order."""
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        part = rows[f::files]
        table = pa.table(
            {c: [r[c] for r in part] for c in PAGES_ARROW.names},
            schema=PAGES_ARROW,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def write_docs(path: str, name: str, ids: list[int], texts: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids, "text": texts}, schema=DOCS_ARROW),
                   os.path.join(path, f"{name}.parquet"))
