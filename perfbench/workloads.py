"""The four benchmark workloads.

Each workload drives the package only through its public entry points:

- ``setup``   writes the seeded inputs (the program sees only these files);
- ``action``  is one closed-loop step, run again only after the previous
  one returned; its span is the timed sample. Untimed full-size actions
  run first (``run.WARM_ACTIONS``), so worker imports, plan compilation
  and most JIT compilation are paid before timing;
- ``check``   compares every repetition's output with the pure-Python
  reference, outside the timed window, and returns (attempted, failed);
- ``layers``  (traced runs only) re-runs each layer as an isolated Spark
  action over the previous layer's output materialized with
  ``localCheckpoint``; wrapping a lazy call in a timer would time nothing.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from azure_based_pii_redactor_spark.engine import checkpoint as ckpt
from azure_based_pii_redactor_spark.engine.corpus import (
    admit_batch, build_training_corpus,
)
from azure_based_pii_redactor_spark.engine.operators.textstats import (
    WINDOW_N, decontaminate, md5_bucket100, remove_duplicate_passages,
)
from azure_based_pii_redactor_spark.engine.operators.urls import (
    dedup_pages_by_url,
)
from azure_based_pii_redactor_spark.engine.pipeline import run_scrub_pipeline
from azure_based_pii_redactor_spark.engine.schema import PAGES_SCHEMA
from azure_based_pii_redactor_spark.sources.warc import read_warc
from azure_based_pii_redactor_spark.streaming import scrub_stream
from azure_based_pii_redactor_spark.streaming.admission import (
    BAND_SCHEMA, run_streaming_admission, seed_band_store,
)

import gen
import oracle
from measure import data_epochs

KERNEL_SLICE = 300  # docs per in-process kernel-stage measurement
KERNEL_COLS = ("url", "warc_ts", "html", "text", "lang")
_WRAPPED = ("left(html, 12) = X'3C68746D6C3E3C626F64793E' AND "
            "right(html, 14) = X'3C2F626F64793E3C2F68746D6C3E'")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(path: str, cols: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _tree_files(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.reps: list[dict] = []

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def span(self, name: str, rep=None):
        return self.ctx.tracer.span(name, None if rep is None else str(rep))

    def warc_layers(self, src: str):
        """``read_warc`` -> noop; returns the layer metrics and the scanned
        pages materialized."""
        with self.span("warc.scan") as s:
            noop(read_warc(self.ctx.spark, src))
        pages_mat = read_warc(self.ctx.spark, src).localCheckpoint()
        return ({"warc.scan_s": self.ctx.tracer.duration(s["id"]),
                 "warc.records": pages_mat.count()}, pages_mat)

    def sink_layers(self, scrubbed_mat) -> dict:
        """``write_scrub_output`` on materialized, bucketed kernel output."""
        out, lin = self.path("layer_table"), self.path("layer_lineage")
        with self.span("checkpoint.sink") as s:
            ckpt.write_scrub_output(scrubbed_mat, out, lin, "layers",
                                    list(range(ckpt.DEFAULT_BUCKETS)))
        files, size = _tree_files(out)
        return {"checkpoint.sink_s": self.ctx.tracer.duration(s["id"]),
                "checkpoint.files_written": files,
                "checkpoint.bytes_written": size,
                "checkpoint.lineage_rows": pq.read_table(lin).num_rows}

    def pipeline_layers(self, pages_mat) -> dict:
        """scan -> Arrow -> kernel split of ``run_scrub_pipeline`` over
        materialized pages: each wall is a noop-sink action, and a layer is
        the difference between consecutive walls."""
        cols = pages_mat.select(*KERNEL_COLS)
        with self.span("pipeline.scan") as s_scan:
            noop(cols)
        with self.span("pipeline.arrow") as s_arrow:
            noop(cols.mapInPandas(lambda it: it, schema=cols.schema))
        with self.span("pipeline.kernel") as s_kernel:
            noop(run_scrub_pipeline(pages_mat))
        d = self.ctx.tracer.duration
        scan, arrow, kernel = d(s_scan["id"]), d(s_arrow["id"]), d(s_kernel["id"])
        return {
            "pipeline.scan_s": scan,
            "pipeline.arrow_s": arrow - scan,
            "pipeline.kernel_s": kernel - arrow,
            "pipeline.html_fallback_rows": pages_mat.filter(
                F.col("html").isNotNull() & ~F.expr(_WRAPPED)).count(),
            "_kernel_wall_s": kernel,
        }


class WarcToTable(Workload):
    """WARC files -> ``run_checkpointed`` -> bucketed parquet + lineage."""

    name = "warc_to_table"
    DOCS, FILES, HTML_SHARE = 2000, 8, 0.25

    def setup(self) -> dict:
        rows = gen.pages(self.ctx.seed, self.DOCS)
        n_html = gen.with_full_html(rows, self.HTML_SHARE, self.ctx.seed)
        gen.write_warc(self.path("warc"), rows, self.FILES)
        self.docs = [(r["url"], r["html"]) for r in rows]
        return {"docs": self.DOCS, "files": self.FILES, "html_docs": n_html,
                "html_share": n_html / self.DOCS, "refetch_share": 0.0}

    def action(self, rep) -> dict:
        spark = self.ctx.spark
        with self.span(self.name, rep) as s:
            n = ckpt.run_checkpointed(
                read_warc(spark, self.path("warc")), self.path(f"out{rep}"),
                self.path(f"lin{rep}"), f"run{rep}")
        return {"span": s["id"], "docs": self.DOCS, "written": n}

    def check(self, corrupt: bool) -> tuple[int, int]:
        expected = {u: oracle.scrub_reference(h, None) for u, h in self.docs}
        failed = 0
        for i, r in enumerate(self.reps):
            rows = _rows(self.path(f"out{r['rep']}"),
                         ["url", "keep", "scrubbed_text"])
            if corrupt and i == 0:
                rows = _corrupt_scrub_row(rows)
            failed += oracle.compare_scrub(expected, rows)
            lineage = sum(_rows(self.path(f"lin{r['rep']}"), ["n_docs"]), ())
            failed += abs(sum(lineage) - self.DOCS) + abs(r["written"] - self.DOCS)
        return self.DOCS * len(self.reps), failed

    def layers(self) -> dict:
        out, pages_mat = self.warc_layers(self.path("warc"))
        out.update(self.pipeline_layers(pages_mat))
        scrubbed = ckpt.with_bucket(run_scrub_pipeline(pages_mat)).localCheckpoint()
        out["pipeline.extract_mismatch_rows"] = scrubbed.filter(
            ~F.col("extracted_ok")).count()
        out.update(self.sink_layers(scrubbed))
        out["_layer_sum_s"] = (out["warc.scan_s"] + out.pop("_kernel_wall_s")
                               + out["checkpoint.sink_s"])
        return out

    def kernel_slice(self) -> list[tuple]:
        return [(h, None) for _, h in self.docs[:KERNEL_SLICE]]


def _corrupt_scrub_row(rows: list[tuple]) -> list[tuple]:
    """Self-check hook: alter the scrubbed text of one kept row."""
    rows = list(rows)
    for i, (url, keep, text) in enumerate(rows):
        if keep:
            rows[i] = (url, keep, text + " ")
            break
    return rows


class CorpusFunnel(Workload):
    """``build_training_corpus`` in report mode over parquet pages with
    re-fetched urls, an eval set and ``sample_pct``; output to parquet."""

    name = "corpus_funnel"
    DOCS, FILES, REFETCH_SHARE, EVAL_DOCS, SAMPLE_PCT = 2000, 8, 0.10, 40, 50

    def _build(self, out: str, report_counts: bool = True) -> dict:
        spark = self.ctx.spark
        pages = spark.read.schema(PAGES_SCHEMA).parquet(self.path("in", "pages"))
        evals = spark.read.parquet(self.path("in", "eval")).select("text")
        corpus, report = build_training_corpus(
            pages, eval_docs=evals, sample_pct=self.SAMPLE_PCT,
            report_counts=report_counts)
        corpus.write.mode("overwrite").parquet(out)
        return report

    def setup(self) -> dict:
        seed = self.ctx.seed
        base = gen.pages(seed, self.DOCS)
        self.rows = base + gen.refetches(seed, base, self.REFETCH_SHARE)
        random.Random(seed).shuffle(self.rows)
        gen.write_pages(self.path("in", "pages"), self.rows, self.FILES)
        picks = random.Random(seed + 1).sample(range(self.DOCS), self.EVAL_DOCS)
        gen.write_docs(self.path("in", "eval"), "eval", picks,
                       [base[i]["text"] for i in picks])
        return {"docs": len(self.rows), "files": self.FILES,
                "unique_urls": self.DOCS, "html_share": 0.0,
                "refetch_share": (len(self.rows) - self.DOCS) / len(self.rows),
                "eval_docs": self.EVAL_DOCS, "sample_pct": self.SAMPLE_PCT}

    def action(self, rep) -> dict:
        with self.span(self.name, rep) as s:
            report = self._build(self.path(f"out{rep}"))
        return {"span": s["id"], "docs": len(self.rows), "report": report}

    def newest(self) -> list[dict]:
        latest: dict[str, dict] = {}
        for r in self.rows:
            if r["url"] not in latest or r["warc_ts"] > latest[r["url"]]["warc_ts"]:
                latest[r["url"]] = r
        return list(latest.values())

    def check(self, corrupt: bool) -> tuple[int, int]:
        deduped = self.newest()
        kept = sum(oracle.scrub_reference(r["html"], r["text"])[0] for r in deduped)
        failed = 0
        for i, r in enumerate(self.reps):
            rep = r["report"]
            written = pq.read_table(self.path(f"out{r['rep']}")).num_rows
            if corrupt and i == 0:
                written -= 1
            ok = (rep["input"] == len(self.rows)
                  and rep["after_url_dedup"] == len(deduped)
                  and rep["after_quality_filter"] == kept
                  and written == rep["after_sampling"])
            failed += not ok
        return len(self.reps), failed

    def layers(self) -> dict:
        spark = self.ctx.spark
        tr = self.ctx.tracer
        pages_mat = spark.read.schema(PAGES_SCHEMA).parquet(
            self.path("in", "pages")).localCheckpoint()
        evals = spark.read.parquet(self.path("in", "eval")).select("text")
        with self.span("urls.dedup") as s_dedup:
            noop(dedup_pages_by_url(pages_mat).drop("canonical_url"))
        deduped = dedup_pages_by_url(pages_mat).drop("canonical_url").localCheckpoint()
        out = {"urls.dedup_s": tr.duration(s_dedup["id"])}
        out.update(self.pipeline_layers(deduped))
        scrubbed = ckpt.with_bucket(run_scrub_pipeline(deduped)).localCheckpoint()
        out["pipeline.extract_mismatch_rows"] = scrubbed.filter(
            ~F.col("extracted_ok")).count()
        kept = (scrubbed.filter(F.col("keep"))
                .select("url", "warc_ts", "lang", "lang_pred",
                        F.col("scrubbed_text").alias("text"))
                .localCheckpoint())
        carry = ("warc_ts", "lang", "lang_pred")

        def removed():
            return (remove_duplicate_passages(kept, "url", n=WINDOW_N,
                                              carry_cols=carry)
                    .select("url", *carry, F.col("cleaned_text").alias("text"))
                    .filter(F.length("text") > 0))

        with self.span("textstats.passage_removal") as s_pr:
            noop(removed())
        passages = removed().localCheckpoint()

        def contaminated():
            return decontaminate(passages, evals, n=WINDOW_N, text_col="text",
                                 id_col="url").select("url")

        with self.span("textstats.decontaminate") as s_dc:
            noop(contaminated())
        dirty = contaminated().localCheckpoint()
        with self.span("corpus.write") as s_write:
            (passages.join(F.broadcast(dirty), "url", "left_anti")
             .filter(md5_bucket100("url") < self.SAMPLE_PCT)
             .write.mode("overwrite").parquet(self.path("layer_out")))
        with self.span("corpus.lazy") as s_lazy:
            self._build(self.path("lazy_out"), report_counts=False)
        out.update({
            "textstats.passage_removal_s": tr.duration(s_pr["id"]),
            "textstats.decontaminate_s": tr.duration(s_dc["id"]),
            "corpus.write_s": tr.duration(s_write["id"]),
            "_lazy_wall_s": tr.duration(s_lazy["id"]),
        })
        out["_layer_sum_s"] = (out["urls.dedup_s"] + out.pop("_kernel_wall_s")
                               + out["textstats.passage_removal_s"]
                               + out["textstats.decontaminate_s"]
                               + out["corpus.write_s"])
        # the WARC reader and the checkpoint sink are not part of this
        # workload's action; they are measured here on the same pages so
        # the benchmark's kept workloads still cover them
        gen.write_warc(self.path("layer_warc"), self.rows, self.FILES)
        warc, _ = self.warc_layers(self.path("layer_warc"))
        out.update(warc)
        out.update(self.sink_layers(scrubbed))
        return out

    def kernel_slice(self) -> list[tuple]:
        return [(r["html"], r["text"]) for r in self.rows[:KERNEL_SLICE]]


class StreamSmallBatches(Workload):
    """``scrub_stream`` with one file per trigger: many small epochs."""

    name = "stream_small_batches"
    DOCS, FILES, FILES_PER_TRIGGER = 1200, 12, 1

    def setup(self) -> dict:
        self.rows = gen.pages(self.ctx.seed, self.DOCS)
        gen.write_pages(self.path("pages"), self.rows, self.FILES)
        return {"docs": self.DOCS, "files": self.FILES,
                "files_per_trigger": self.FILES_PER_TRIGGER,
                "html_share": 0.0, "refetch_share": 0.0}

    def _stream(self, src: str, tag: str) -> list[dict]:
        q = scrub_stream(self.ctx.spark, src, self.path(f"{tag}_out"),
                         self.path(f"{tag}_ckpt"),
                         max_files_per_trigger=self.FILES_PER_TRIGGER)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q.recentProgress

    def action(self, rep) -> dict:
        with self.span(self.name, rep) as s:
            progress = self._stream(self.path("pages"), f"rep{rep}")
        epochs = data_epochs(progress)
        return {"span": s["id"], "docs": self.DOCS, "progress": epochs,
                "epochs": [p["durationMs"]["triggerExecution"] / 1e3 for p in epochs]}

    def check(self, corrupt: bool) -> tuple[int, int]:
        expected = {r["url"]: oracle.scrub_reference(r["html"], r["text"])
                    for r in self.rows}
        batch = {
            r.url: (r.keep, r.scrubbed_text)
            for r in run_scrub_pipeline(
                self.ctx.spark.read.schema(PAGES_SCHEMA).parquet(self.path("pages"))
            ).select("url", "keep", "scrubbed_text").collect()
        }
        failed = 0
        for i, r in enumerate(self.reps):
            rows = _rows(self.path(f"rep{r['rep']}_out"),
                         ["url", "keep", "scrubbed_text"])
            if corrupt and i == 0:
                rows = _corrupt_scrub_row(rows)
            failed += oracle.compare_scrub(expected, rows)
            if i == 0:
                failed += oracle.compare_scrub(batch, rows)
        return self.DOCS * (len(self.reps) + 1), failed

    def layers(self) -> dict:
        return {}

    def kernel_slice(self) -> list[tuple]:
        return [(r["html"], r["text"]) for r in self.rows[:KERNEL_SLICE]]


class AdmissionEpochs(Workload):
    """``run_streaming_admission`` over crawl slices of fresh docs plus a
    20% tail of exact re-fetches of history docs, one slice per epoch."""

    name = "admission_epochs"
    HISTORY, FRESH, EPOCHS = 1000, 150, 2
    REFETCH = FRESH // 5

    def _hist(self):
        return self.ctx.spark.read.parquet(self.path("in", "hist"))

    def action(self, rep) -> dict:
        """One admission stream over every slice, starting from a fresh copy
        of the seeded band store."""
        tag = f"rep{rep}"
        bands = self.path(f"{tag}_bands")
        shutil.copytree(self.path("in", "bands"), bands)
        stream = (self.ctx.spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(self.path("in", "src")))
        with self.span(self.name, rep) as s:
            q = run_streaming_admission(stream, self._hist(), bands,
                                        self.path(f"{tag}_out"),
                                        self.path(f"{tag}_ckpt"))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"admission stream failed: {q.exception()}")
        epochs = data_epochs(q.recentProgress)
        return {"span": s["id"], "docs": sum(map(len, self.slice_ids)),
                "progress": epochs,
                "epochs": [p["durationMs"]["triggerExecution"] / 1e3 for p in epochs],
                # numInputRows counts every scan of the batch, not docs
                "epoch_docs": [self.FRESH + self.REFETCH] * len(epochs)}

    def setup(self) -> dict:
        """History docs (ids 0..HISTORY-1) and one slice file per epoch: FRESH
        new docs plus REFETCH exact copies of history docs under new ids.
        The band store is seeded from the history once, here."""
        seed = self.ctx.seed
        hist = [r["text"] for r in gen.pages(seed, self.HISTORY)]
        gen.write_docs(self.path("in", "hist"), "hist", list(range(self.HISTORY)), hist)
        picks = random.Random(seed).sample(range(self.HISTORY), self.REFETCH * self.EPOCHS)
        self.slice_ids, self.refetch_ids, self.unshingled = [], set(), set()
        for e in range(self.EPOCHS):
            new = [r["text"] for r in
                   gen.pages(seed, self.FRESH, start=self.HISTORY + e * self.FRESH)]
            copies = [hist[i] for i in picks[e * self.REFETCH:(e + 1) * self.REFETCH]]
            ids = list(range(1_000_000 * (e + 1), 1_000_000 * (e + 1) + len(new) + len(copies)))
            for doc_id, text in zip(ids[len(new):], copies):
                # the near-dup contract is a Jaccard over word 3-shingles
                # (split on " "): a copy with no shingle links to nothing
                (self.refetch_ids if len(text.split(" ")) >= 3
                 else self.unshingled).add(doc_id)
            self.slice_ids.append(ids)
            gen.write_docs(self.path("in", "src"), f"slice{e:03d}", ids, new + copies)
        seed_band_store(self._hist(), self.path("in", "bands"))
        return {"history_docs": self.HISTORY, "epochs": self.EPOCHS,
                "docs": sum(map(len, self.slice_ids)),
                "slice_docs": self.FRESH + self.REFETCH,
                "refetch_share": self.REFETCH / (self.FRESH + self.REFETCH),
                "refetch_unshingled": len(self.unshingled), "html_share": 0.0}

    def admitted(self, rep: dict) -> set:
        return {i for (i,) in _rows(self.path(f"rep{rep['rep']}_out"), ["doc_id"])}

    def check(self, corrupt: bool) -> tuple[int, int]:
        failed = 0
        first = None
        for i, r in enumerate(self.reps):
            got = self.admitted(r)
            if corrupt and i == 0:
                got = got | {min(self.refetch_ids)}
            r["admitted"] = len(got)
            r["unshingled_refetch_admitted"] = len(got & self.unshingled)
            failed += len(got & self.refetch_ids)
            if first is None:
                first = got
            else:
                failed += len(got ^ first)
        return sum(map(len, self.slice_ids)) * len(self.reps), failed

    def layers(self) -> dict:
        spark = self.ctx.spark
        bands = spark.read.schema(BAND_SCHEMA).parquet(
            self.path("in", "bands")).select("doc_id", "band", "bucket")
        first = spark.read.parquet(self.path("in", "src", "slice000.parquet"))
        with self.span("admission.admit_batch") as s:
            admitted, inc = admit_batch(first, self._hist(), history_bands=bands)
            noop(admitted)
            noop(inc)
        last = self.reps[-1]
        return {"admission.admit_batch_s": self.ctx.tracer.duration(s["id"]),
                "admission.admitted_frac": len(self.admitted(last)) / last["docs"]}

    def kernel_slice(self) -> list[tuple]:
        return [(None, t) for (t,) in _rows(
            self.path("in", "src", "slice000.parquet"), ["text"])][:KERNEL_SLICE]


WORKLOADS = {w.name: w for w in (WarcToTable, CorpusFunnel, StreamSmallBatches,
                                 AdmissionEpochs)}
