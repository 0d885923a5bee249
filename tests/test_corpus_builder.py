"""build_training_corpus: the composed recipe behaves like its stages.

Each stage is pinned on its own elsewhere; these tests pin the FUNNEL --
stage order, the report counts, and that every stage actually bites on a
corpus constructed to trigger all of them."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from azure_based_pii_redactor_spark.engine.corpus import build_training_corpus

GOOD = (
    "The children walked to the market in the morning and the weather "
    "was warm. They bought fresh bread and fruit from the vendors. "
    "Everyone agreed that the market was the best place in the town "
    "to spend a morning with the family and friends from the village."
)
BOILER = "subscribe to our newsletter for the latest updates and offers"
BENCH = "what is the capital of france and when was it founded today"


def _pages(spark):
    rows = []
    # url duplicate pair (http/https) -- url dedup must drop one
    rows.append(("http://www.a.example/p", datetime(2024, 1, 1),
                 GOOD + " alpha beta gamma delta"))
    rows.append(("https://a.example/p", datetime(2024, 6, 1),
                 GOOD + " alpha beta gamma delta"))
    # gibberish -- quality filter must drop
    rows.append(("https://a.example/junk", datetime(2024, 1, 2),
                 "qzx wvj kqp zzj xqw vkz pqj wxz jqk zvw " * 6))
    # boilerplate passage shared by several docs -- passage removal bites
    for i in range(3):
        rows.append((f"https://b.example/b{i}", datetime(2024, 2, i + 1),
                     f"{GOOD} {BOILER} marker{i} closing words here"))
    # benchmark-contaminated doc -- decontamination must drop it
    rows.append(("https://c.example/leak", datetime(2024, 3, 1),
                 f"{GOOD} {BENCH}"))
    # clean keepers
    for i in range(10):
        rows.append((f"https://d.example/c{i}", datetime(2024, 4, i + 1),
                     f"{GOOD} unique{i} extra{i} words{i}"))
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    ).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body>"), "text",
                 F.lit("</body></html>")).cast("binary").alias("html"),
        "text", F.lit("en").alias("lang"),
    )


def test_full_funnel(spark):
    evals = spark.createDataFrame([(1, BENCH)], "doc_id long, text string")
    corpus, report = build_training_corpus(_pages(spark), eval_docs=evals)

    assert report["input"] == 17
    assert report["after_url_dedup"] == 16          # http/https pair -> 1
    assert report["after_quality_filter"] == 15     # gibberish dropped
    assert report["after_passage_removal"] == 15    # cleaned, none emptied
    assert report["after_decontamination"] == 14    # leak dropped

    rows = {r.url: r.text for r in corpus.collect()}
    assert "https://a.example/p" in rows             # newest fetch kept
    assert "http://www.a.example/p" not in rows
    assert "https://c.example/leak" not in rows
    # boilerplate survives only in its first occurrence
    boiler_hits = [u for u, t in rows.items() if "subscribe to our" in t]
    assert boiler_hits == ["https://b.example/b0"]
    # markers survive removal (only the shared passage was excised)
    assert "marker1" in rows["https://b.example/b1"]


def test_sampling_and_lazy_report(spark):
    corpus, report = build_training_corpus(
        _pages(spark), sample_pct=50, report_counts=False
    )
    assert report == {}  # no counting jobs were triggered
    n = corpus.count()
    assert 0 < n < 15  # sampled down, deterministically
    corpus2, _ = build_training_corpus(
        _pages(spark), sample_pct=50, report_counts=False
    )
    assert sorted(r.url for r in corpus.collect()) == sorted(
        r.url for r in corpus2.collect()
    )  # reproducible selection


def test_report_carries_scrub_changed_docs(spark):
    """The bank-clean evidence behind the funnel oracle's raw-text
    recomputation (corpus_bank_clean_ok): report mode counts how many
    docs the scrub CHANGED -- 0 on a pattern-bank-clean corpus, >0 the
    moment a page carries PII-matching text."""
    _, clean_report = build_training_corpus(
        _pages(spark), quality_filter=False
    )
    assert clean_report["scrub_changed_docs"] == 0

    dirty = spark.createDataFrame(
        [("https://p.example/pii", datetime(2024, 5, 1),
          GOOD + " contact me at someone@corp.example.com please"),
         ("https://p.example/clean", datetime(2024, 5, 2),
          GOOD + " closing tokens here")],
        "url string, warc_ts timestamp, text string",
    ).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body>"), "text",
                 F.lit("</body></html>")).cast("binary").alias("html"),
        "text", F.lit("en").alias("lang"),
    )
    _, dirty_report = build_training_corpus(dirty, quality_filter=False)
    assert dirty_report["scrub_changed_docs"] == 1


def test_funnel_query_emits_bank_clean_column(spark):
    """Driver surface: every funnel row carries corpus_bank_clean_ok
    (TRUE on the shipped testdata)."""
    from azure_based_pii_redactor_spark.engine.operators.pipeline_gates import (
        pipeline_corpus_builder,
    )

    pdf = pipeline_corpus_builder(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert "corpus_bank_clean_ok" in pdf.columns
    assert pdf["corpus_bank_clean_ok"].all()
    # 9 funnel stages + the kept_tokens total row (r6: domain cap and
    # token budget; r7: domain blocklist)
    assert list(pdf["stage"]) == [
        "input", "after_url_dedup", "after_blocklist", "after_domain_cap",
        "after_scrub", "after_passage_removal", "after_decontamination",
        "after_sampling", "after_token_budget", "kept_tokens",
    ]
    n = dict(zip(pdf["stage"], pdf["n_rows"]))
    # the opt-in stages BIND on the shipped testdata (a cap, blocklist,
    # or budget that never selects would be a vacuous driver check)
    assert n["after_blocklist"] < n["after_url_dedup"]
    assert n["after_domain_cap"] < n["after_blocklist"]
    assert n["after_token_budget"] < n["after_sampling"]
    assert n["kept_tokens"] >= 4_000  # reached the budget


def test_optional_domain_cap_and_token_budget_stages(spark):
    """The opt-in stages compose into the one-call recipe: domain cap
    right after url dedup, token budget as the final stage; both report
    their funnel counts, and the default-off form is unchanged."""
    from pyspark.sql import functions as F

    # a hot domain with 12 pages + the regular fixture
    hot = spark.createDataFrame(
        [(f"https://flood.example/p{i}", datetime(2024, 7, 1),
          f"{GOOD} flood{i} words{i} here{i}") for i in range(12)],
        "url string, warc_ts timestamp, text string",
    ).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body>"), "text",
                 F.lit("</body></html>")).cast("binary").alias("html"),
        "text", F.lit("en").alias("lang"),
    )
    pages = _pages(spark).unionByName(hot)

    # NOTE: passage removal excises the shared GOOD passage from all but
    # its first occurrence, so the corpus that reaches the budget stage
    # holds only ~120 tokens -- the budget must sit BELOW that for the
    # budget stage to actually select (a 400-token budget would keep
    # everything and assert nothing)
    corpus, report = build_training_corpus(
        pages, quality_filter=False, max_per_domain=4, token_budget=50,
    )
    assert report["after_domain_cap"] < report["after_url_dedup"]
    # flood.example capped at 4
    n_flood = corpus.filter(
        F.col("url").contains("flood.example")
    ).count()
    assert n_flood <= 4
    # the corpus at the budget stage (~120 tokens) exceeds the 50-token
    # budget, so the kept total must actually reach it (a cutoff
    # regression keeping nothing would fail here) AND the stage must
    # have dropped something (the budget is a strict subset)
    assert report["kept_tokens"] >= 50
    assert 0 < report["after_token_budget"] < report["after_passage_removal"]
    # the budget stage is last and monotone non-increasing
    stages = [k for k in report if k.startswith("after")]
    assert stages[-1] == "after_token_budget"
    # default-off form reports no new stages
    _, plain = build_training_corpus(pages, quality_filter=False)
    assert "after_domain_cap" not in plain
    assert "after_token_budget" not in plain and "kept_tokens" not in plain


def test_admit_batch_day_over_day(spark, tmp_path):
    """corpus.admit_batch: the one-call admission loop.  Day 1 admits
    against seed history (re-fetch and near-dup rejected, novel doc
    admitted), returns the band-table INCREMENT for exactly the
    admitted docs; appending it to the band store makes day 2 reject a
    near-dup OF A DAY-1 ADMISSION without ever re-shingling history --
    plan-pinned: the candidate stage scans the persisted band store,
    never the history documents' text."""
    from azure_based_pii_redactor_spark.engine.corpus import admit_batch
    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet village green and children play games")
    hist_rows = [(i, f"{base} variant{i} tail{i} words{i}")
                 for i in range(8)]
    novel = ("completely different content about ships and harbors "
             "and tides and the long journey across the cold sea")
    hist_p = str(tmp_path / "histdocs")
    band_p = str(tmp_path / "bandstore")
    spark.createDataFrame(
        hist_rows, "doc_id long, text string"
    ).write.parquet(hist_p)
    history = spark.read.parquet(hist_p)
    dd._band_hashes(dd._signatures_for(history)).write.parquet(band_p)
    bands = spark.read.parquet(band_p)

    day1 = spark.createDataFrame(
        [(100, hist_rows[3][1]),                   # re-fetch: reject
         (101, f"{base} variant5 tail5 CHANGED"),  # near-dup: reject
         (102, novel)],                            # novel: admit
        "doc_id long, text string",
    )
    admitted, inc_bands = admit_batch(day1, history, history_bands=bands)
    assert [r.doc_id for r in admitted.collect()] == [102]
    # the increment covers exactly the admitted docs, BANDS rows each
    inc = inc_bands.collect()
    assert {r.doc_id for r in inc} == {102}
    assert len(inc) == dd.BANDS

    # never-re-shingles pin: the candidate stage's executed plan holds
    # exactly ONE shingle stage (the NEW batch -- re-shingling history
    # would add a second) and the history side is a bare parquet
    # FileScan of the band store (path strings truncate in plan
    # rendering, so pin the operators, not the path)
    cand = dd._incremental_candidates(
        bands, dd._band_hashes(dd._signatures_for(day1))
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode(array_distinct(transform") == 1
    assert "FileScan parquet" in plan

    # day 2: append the increment, then a near-dup of day-1's ADMITTED
    # doc must now be rejected, and a fresh doc admitted
    inc_bands.write.mode("append").parquet(band_p)
    history2 = history.unionByName(admitted)
    bands2 = spark.read.parquet(band_p)
    day2 = spark.createDataFrame(
        [(200, novel + " slight change"),          # near-dup of 102
         (201, "figures on the hillside counting stars before the "
               "storm arrives and the lanterns are lit one by one")],
        "doc_id long, text string",
    )
    admitted2, inc2 = admit_batch(day2, history2, history_bands=bands2)
    assert [r.doc_id for r in admitted2.collect()] == [201]
    assert {r.doc_id for r in inc2.collect()} == {201}


def test_optional_boilerplate_line_stage(spark):
    """remove_boilerplate=k inserts CCNet-style cross-doc line removal
    after the scrub: the shared nav line disappears from EVERY doc (no
    keeper), a doc that was all boilerplate is dropped, and the funnel
    reports the stage."""
    nav = "home about contact subscribe now"
    # letter suffixes, NOT digits: digit-collapse normalization would
    # (correctly) key 'liner0'..'liner5' identically and remove the
    # bodies as boilerplate too
    rows = [
        (f"https://e.example/l{i}", datetime(2024, 5, i + 1),
         f"{nav}\n{GOOD} liner {chr(97 + i) * 2}")
        for i in range(6)
    ]
    rows.append(("https://e.example/only", datetime(2024, 5, 20), nav))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    ).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body>"), "text",
                 F.lit("</body></html>")).cast("binary").alias("html"),
        "text", F.lit("en").alias("lang"),
    )
    corpus, report = build_training_corpus(
        pages, quality_filter=False, dedup_urls=False,
        remove_dup_passages=False, remove_boilerplate=3,
    )
    texts = {r["url"]: r["text"] for r in corpus.collect()}
    assert len(texts) == 6
    assert "https://e.example/only" not in texts  # emptied -> dropped
    for i in range(6):
        assert (
            texts[f"https://e.example/l{i}"]
            == f"{GOOD} liner {chr(97 + i) * 2}"
        )
    assert report["after_scrub"] == 7
    assert report["after_line_dedup"] == 6


def _as_pages(spark, rows):
    """(url, warc_ts, text, head) rows -> the pages schema the builder
    reads; ``head`` goes into the html head (robots meta, say)."""
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, head string"
    ).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><head>"), "head", F.lit("</head><body>"),
                 "text", F.lit("</body></html>")).cast("binary").alias("html"),
        "text", F.lit("en").alias("lang"),
    )


def _combo_pages(spark, combo):
    base = _pages(spark)
    if combo == "blocklist_noindex":
        return base.unionByName(_as_pages(spark, [
            (f"https://n.example/p{i}", datetime(2024, 7, i + 1),
             f"{GOOD} tail {chr(97 + i)}",
             '<meta name="robots" content="noindex">' if i == 0 else "")
            for i in range(3)
        ]))
    if combo == "domain_cap_budget":
        return base.unionByName(_as_pages(spark, [
            (f"https://flood.example/p{i}", datetime(2024, 7, 1),
             f"{GOOD} flood{i} words{i} here{i}", "") for i in range(12)
        ]))
    if combo == "keep_all_dirty":
        return base.unionByName(_as_pages(spark, [
            ("https://p.example/pii", datetime(2024, 5, 1),
             GOOD + " contact me at someone@corp.example.com please", ""),
        ]))
    if combo == "boilerplate":
        nav = "home about contact subscribe now"
        return _as_pages(spark, [
            (f"https://e.example/l{i}", datetime(2024, 5, i + 1),
             f"{nav}\n{GOOD} liner {chr(97 + i) * 2}", "") for i in range(6)
        ] + [("https://e.example/only", datetime(2024, 5, 20), nav, "")])
    if combo == "empty_input":
        return base.filter(F.lit(False))
    return base


# (combo, build kwargs, the corpus:<stage> labels its report-mode jobs
# carry: one per barrier, plus the token budget's bucket-sum pass)
FUNNEL_COMBOS = [
    ("full", dict(eval=True),
     {"quality_filter", "passage_removal", "decontamination"}),
    ("sampling", dict(sample_pct=50),
     {"quality_filter", "passage_removal", "sampling"}),
    ("keep_all_dirty", dict(quality_filter=False, eval=True, sample_pct=50),
     {"scrub", "passage_removal", "sampling"}),
    ("blocklist_noindex", dict(quality_filter=False, blocklist=True,
                               honor_noindex=True),
     {"scrub", "passage_removal"}),
    ("domain_cap_budget", dict(quality_filter=False, max_per_domain=4,
                               token_budget=50),
     {"scrub", "passage_removal", "token_budget"}),
    ("boilerplate", dict(quality_filter=False, dedup_urls=False,
                         remove_dup_passages=False, remove_boilerplate=3),
     {"scrub", "line_dedup"}),
    ("empty_input", dict(eval=True, sample_pct=50), None),
]


def _build(spark, combo, kw, **extra):
    kw = dict(kw)
    if kw.pop("eval", False):
        kw["eval_docs"] = spark.createDataFrame(
            [(1, BENCH)], "doc_id long, text string")
    if kw.pop("blocklist", False):
        kw["blocklist"] = spark.createDataFrame(
            [("b.example",)], "domain string")
    return build_training_corpus(_combo_pages(spark, combo), **kw, **extra)


def _jobs_run(spark, fn):
    """(fn(), descriptions of the Spark jobs fn ran): the jobs are read
    from the status tracker by a job group set around the call."""
    import uuid

    sc = spark.sparkContext
    group = f"corpus-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller description")
    try:
        out = fn()
        assert sc.getLocalProperty("spark.job.description") == (
            "caller description")  # restored after every barrier
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    descs = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        d = jsc.statusStore().job(job).description()
        descs.append(d.get() if d.isDefined() else None)
    return out, descs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())



@pytest.mark.parametrize("combo,kw,labels", FUNNEL_COMBOS,
                         ids=[c[0] for c in FUNNEL_COMBOS])
def test_observed_report_matches_count_funnel(spark, monkeypatch, combo,
                                              kw, labels):
    """Report mode reads every funnel count from in-job Observations.
    Differential: the observed report (order included) and corpus equal
    a reference funnel that runs an explicit count() per stage frame.
    Job budget: every job report mode runs is one of its barrier jobs or
    the token budget's pass -- labelled corpus:<stage>, one label per
    barrier -- and no count() job runs.  Lazy mode writes the same rows
    and runs no barrier or count job."""
    import azure_based_pii_redactor_spark.engine.corpus as corpus_mod

    (corpus, report), descs = _jobs_run(
        spark, lambda: _build(spark, combo, kw))
    if labels is not None:
        assert set(descs) == {f"corpus:{s}" for s in labels}, descs
    rows = _rows(corpus)

    class CountingFunnel(corpus_mod._Funnel):
        def stage(self, name, df, **extra):
            if self.on:
                self.report[name] = df.count()
                for k, agg in extra.items():
                    self.report[k] = df.agg(agg).first()[0]
            return df

        def barrier(self, df):  # same cut points, nothing observed
            return df.localCheckpoint()

    with monkeypatch.context() as m:
        m.setattr(corpus_mod, "_Funnel", CountingFunnel)
        ref_corpus, ref = _build(spark, combo, kw)
    assert list(report.items()) == list(ref.items())
    assert rows == _rows(ref_corpus)
    if combo == "empty_input":
        assert set(report.values()) == {0}
    if combo == "keep_all_dirty":
        assert report["scrub_changed_docs"] == 1

    (lazy, lazy_report), lazy_descs = _jobs_run(
        spark, lambda: _build(spark, combo, kw, report_counts=False))
    budget = "token_budget" in kw
    # no barrier and no count job; the budget's bucket-sum pass is the
    # one labelled job.  (Unlabelled jobs do run here: under AQE the
    # lazy localCheckpoint inside passage removal materializes the
    # shuffle stages below it while the plan is built.)
    labelled = {d for d in lazy_descs if d.startswith("corpus:")}
    assert labelled == ({"corpus:token_budget"} if budget else set())
    assert lazy_report == ({"kept_tokens": report["kept_tokens"]}
                           if budget else {})
    assert _rows(lazy) == rows


def test_job_description_restored(spark):
    """The barrier label is scoped: the caller's description (or its
    absence) is back afterwards, also when the block raises."""
    from azure_based_pii_redactor_spark.engine.session import job_description

    sc = spark.sparkContext
    key = "spark.job.description"
    assert sc.getLocalProperty(key) is None
    with job_description(spark, "corpus:x"):
        assert sc.getLocalProperty(key) == "corpus:x"
    assert sc.getLocalProperty(key) is None
    sc.setJobDescription("mine")
    try:
        with pytest.raises(RuntimeError):
            with job_description(spark, "corpus:y"):
                raise RuntimeError
        assert sc.getLocalProperty(key) == "mine"
    finally:
        sc.setLocalProperty(key, None)
