"""Pure-Python reference for the fused kernel, the output comparisons that
define ``failed``, and the in-process kernel-stage timings.

The reference runs one document at a time through the package's scalar
entry points (``extract_text`` -> ``decide`` -> ``scrub_text``) with no
Spark, no Arrow and no batch scoring, so a difference in the Spark path
(pre-extraction, batched langid/perplexity, serialization) shows up as a
mismatched row.
"""

from __future__ import annotations

import time

from azure_based_pii_redactor_spark.engine.pipeline import extract_text
from azure_based_pii_redactor_spark.kernel.patterns import detect_pii
from azure_based_pii_redactor_spark.kernel.scrub import scrub_text
from azure_based_pii_redactor_spark.quality.decide import (
    ALLOWED_LANGS, MAX_PERPLEXITY, MIN_LANG_SCORE, decide,
)
from azure_based_pii_redactor_spark.quality.heuristics import (
    RULE_NAMES, gopher_c4_metrics,
)
from azure_based_pii_redactor_spark.quality.langid import predict_language_batch
from azure_based_pii_redactor_spark.quality.perplexity import perplexity_batch

GATE_REASONS = ("langid_lang", "langid_score", "perplexity")
DROP_REASONS = GATE_REASONS + RULE_NAMES


def extracted(html: bytes | None, text: str | None) -> str:
    """What the kernel scores: the html extraction, or the text column
    when there is no html payload."""
    got = extract_text(html)
    return (text or "") if got is None else got


def scrub_reference(html: bytes | None, text: str | None):
    """(keep, scrubbed_text) for one page; scrubbed_text is None for a
    dropped page."""
    doc = extracted(html, text)
    d = decide(doc)
    return d.keep, (scrub_text(doc).scrubbed_text if d.keep else None)


def compare_scrub(expected: dict[str, tuple], rows) -> int:
    """Rows of (url, keep, scrubbed_text) against ``expected`` (url ->
    (keep, scrubbed_text)). Every expected url that is missing, duplicated
    or different, and every unexpected url, counts as one failure."""
    seen: dict[str, int] = {}
    failed = 0
    for url, keep, text in rows:
        seen[url] = seen.get(url, 0) + 1
        want = expected.get(url)
        if want is None:
            failed += 1
        elif seen[url] == 1 and (bool(keep), text) != want:
            failed += 1
    failed += sum(1 for u in expected if seen.get(u, 0) != 1)
    return failed


def _us_per(fn, items) -> float:
    if not items:
        return 0.0
    t0 = time.perf_counter()
    fn(items)
    return (time.perf_counter() - t0) * 1e6 / len(items)


def kernel_stages(docs: list[tuple]) -> dict[str, float]:
    """Per-stage cost of the kernel on a slice of (html, text) pages, in
    microseconds per document of the stage's own input, plus the slice's
    keep fraction, entities per kept doc and drop-reason counts."""
    out: dict[str, float] = {}
    out["html_text.us_per_doc"] = _us_per(
        lambda ds: [extract_text(h) for h, _ in ds], docs)
    texts = [extracted(h, t) for h, t in docs]
    out["langid.us_per_doc"] = _us_per(predict_language_batch, texts)
    out["perplexity.us_per_doc"] = _us_per(perplexity_batch, texts)
    langs = predict_language_batch(texts)
    ppls = perplexity_batch(texts)
    gated = [x for x, (lg, score), p in zip(texts, langs, ppls)
             if lg in ALLOWED_LANGS and score >= MIN_LANG_SCORE
             and p <= MAX_PERPLEXITY]
    out["heuristics.us_per_doc"] = _us_per(
        lambda xs: [gopher_c4_metrics(x) for x in xs], gated)
    t0 = time.perf_counter()
    decisions = [decide(x, lang=lg, ppl=p)
                 for x, lg, p in zip(texts, langs, ppls)]
    out["decide.us_per_doc"] = (time.perf_counter() - t0) * 1e6 / max(len(texts), 1)
    kept = [x for x, d in zip(texts, decisions) if d.keep]
    out["patterns.us_per_doc"] = _us_per(
        lambda xs: [detect_pii(x) for x in xs], kept)
    scrubbed: list = []
    out["scrub.us_per_doc"] = _us_per(
        lambda xs: scrubbed.extend(scrub_text(x) for x in xs), kept)
    out["kernel.kept_frac"] = len(kept) / max(len(texts), 1)
    out["kernel.entities_per_doc"] = (
        sum(len(r.entities) for r in scrubbed) / max(len(kept), 1))
    counts = {f"kernel.drop.{r}": 0 for r in DROP_REASONS}
    counts["kernel.drop.other"] = 0
    for d in decisions:
        if not d.keep:
            key = f"kernel.drop.{d.drop_reason}"
            counts[key if key in counts else "kernel.drop.other"] += 1
    out.update(counts)
    return out
