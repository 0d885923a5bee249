"""Formatted physical plans of the headline operators.

Two modes:

    python scripts/dump_plans.py
        regenerate PLANS.md at the repo root: every headline plan with
        the scale-critical features called out.  The same properties
        are ASSERTED in tests/test_plans.py; this artifact makes them
        reviewable without running Spark.

    python scripts/dump_plans.py --tag before --out plans/<change> \
        [--repo OTHER_CHECKOUT] [NAME ...]
        write one ``<NAME>_<tag>.txt`` per plan (all named plans when
        no NAME is given) into ``--out``.  ``--repo`` imports the
        package from another checkout, so running once against the
        parent tree (tag before) and once against this one (tag after)
        gives a before/after pair for a plan-changing commit.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = "/root/testdata/sf0.001"


def _tagged_only():
    """Plans dumped by name only (not part of PLANS.md)."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators import (
        dedup, relational, textstats, urls,
    )

    def pagerank(spark):
        edges = spark.createDataFrame(
            [(f"s{i % 5}", f"d{(i + 3) % 11}") for i in range(200)],
            "src_domain string, dst_domain string",
        )
        return urls.domain_pagerank(edges)

    def incremental(spark):
        d = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text")
        return dedup.minhash_dedup_incremental(
            d.filter(F.col("doc_id") % 2 == 1),
            d.filter(F.col("doc_id") % 2 == 0),
        )

    return {
        "text_doc_features": lambda s: textstats.text_doc_features(s, SF),
        "scalar_mask": lambda s: relational.scalar_mask(s, SF),
        "scalar_mask_email": lambda s: relational.scalar_mask_email(s, SF),
        "dedup_minhash_lsh_slot":
            lambda s: dedup.dedup_minhash_verified_with_incremental(s, SF),
        "minhash_dedup_incremental": incremental,
        "domain_pagerank": pagerank,
    }


# (name, title, what-to-look-for, builder)
def _entries():
    from azure_based_pii_redactor_spark.engine.operators import (
        dedup, relational, similarity, textstats,
    )
    from azure_based_pii_redactor_spark.engine.pipeline import (
        documents_as_pages, run_scrub_pipeline,
    )

    def pipeline(spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        return run_scrub_pipeline(documents_as_pages(docs))

    return [
        ("scrub_pipeline", "Fused scrub pipeline (flagship)",
         "ONE narrow mapInPandas stage, no Exchange anywhere: the kernel "
         "is embarrassingly parallel; the JVM pre-extraction CASE runs "
         "inside the scan projection.",
         pipeline),
        ("agg_tpch_q1", "agg_tpch_q1",
         "HashAggregate appears TWICE around one Exchange (map-side "
         "partial combine); the date filter is in PushedFilters; "
         "WholeStageCodegen spans the scan->partial-agg pipeline.",
         lambda s: relational.agg_tpch_q1(s, SF)),
        ("join_rows_history", "join_rows_history",
         "BroadcastHashJoin (customer dim broadcast), no SortMergeJoin, "
         "no shuffle of the orders side before the join.",
         lambda s: relational.join_rows_history(s, SF)),
        ("window_pagination_keyset",
         "window_pagination_keyset (primary W3 form)",
         "The literal cursor becomes a pushed-down parquet range "
         "predicate (PushedFilters non-empty) and the page is a "
         "TakeOrderedAndProject -- no global sort, no offset skip.",
         lambda s: relational.window_pagination_keyset(s, SF)),
        ("join_range_bucketed", "join_range_bucketed",
         "The pure range join runs as an EQUI join on the bucket key "
         "(no BroadcastNestedLoopJoin/CartesianProduct) with the exact "
         "interval predicate as a post-join filter.",
         lambda s: relational.join_range_bucketed(s, SF)),
        ("dedup_ngram_jaccard", "dedup_ngram_jaccard",
         "The shingle self-join sits BEHIND a broadcast LEFT ANTI join "
         "(the DF_MAX stop-shingle guard) -- one hot shingle cannot "
         "explode the join.",
         lambda s: dedup.dedup_ngram_jaccard(s, SF)),
        ("dedup_simhash_hamming", "dedup_simhash_hamming",
         "Candidates come from an equi join on (table, key) over "
         "DISTINCT simhash values; no all-pairs product anywhere.",
         lambda s: dedup.dedup_simhash_hamming(s, SF)),
        ("embedding_cosine_neardup", "embedding_cosine_neardup",
         "Banded-LSH bucket equality generates candidates (equi join); "
         "the exact re-score is a filter after two hash joins -- no "
         "CartesianProduct.",
         lambda s: similarity.embedding_cosine_neardup(s, SF)),
        ("text_dedup_passage_removal", "text_dedup_passage_removal",
         "Window rank over window text, removal spans exploded to word "
         "indexes, exclusion as LEFT ANTI join co-partitioned on "
         "doc_id; no nested-loop join.",
         lambda s: textstats.text_dedup_passage_removal(s, SF)),
        ("text_decontaminate", "text_decontaminate",
         "Eval windows are DISTINCT'd then BROADCAST into a LEFT SEMI "
         "join; the training side explodes windows in its scan "
         "projection and reaches the semi join UNSHUFFLED (its only "
         "exchange is the per-doc count ABOVE the join, sized by "
         "contaminated rows) -- the asymmetry (small authoritative "
         "eval set vs 10^12 training docs) is the plan.",
         lambda s: textstats.text_decontaminate(s, SF)),
    ]


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def dump_tagged(spark, tag: str, out_dir: str, names: list[str]) -> None:
    builders = {n: b for n, _, _, b in _entries()}
    builders.update(_tagged_only())
    unknown = set(names) - set(builders)
    if unknown:
        raise SystemExit(f"unknown plan(s) {sorted(unknown)}; "
                         f"known: {sorted(builders)}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names or builders:
        try:
            # the dataset location is host-specific: name it by the
            # variable so dumps taken on different hosts diff cleanly
            plan = _formatted(builders[name](spark)).replace(SF, "$SF")
        except Exception as e:  # keep going; note the failure
            plan = f"FAILED to build plan: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tag", help="write <name>_<tag>.txt files")
    ap.add_argument("--out", help="directory for --tag files")
    ap.add_argument("--repo", default=REPO,
                    help="checkout whose package is imported")
    ap.add_argument("names", nargs="*", help="plans to dump (--tag mode)")
    args = ap.parse_args()
    if bool(args.tag) != bool(args.out):
        ap.error("--tag and --out go together")
    if args.names and not args.tag:
        ap.error("plan names need --tag/--out")
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    # Python workers import the package from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)

    from azure_based_pii_redactor_spark.engine.session import build_session

    spark = build_session(app_name="dump_plans", master="local[4]",
                          shuffle_partitions=4)
    if args.tag:
        dump_tagged(spark, args.tag, os.path.abspath(args.out), args.names)
        spark.stop()
        return
    out = [
        "# PLANS — formatted physical plans of the headline operators\n",
        "Generated by `python scripts/dump_plans.py` at sf0.001; the",
        "properties called out per plan are pinned by tests/test_plans.py.",
        "AQE is enabled, so exchanges may carry `AQEShuffleRead` wrappers",
        "at runtime; the shapes below are the initial physical plans.\n",
    ]
    for _, title, look_for, build in _entries():
        plan = _formatted(build(spark))
        out.append(f"## {title}\n")
        out.append(f"**Look for:** {look_for}\n")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(_entries())} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
