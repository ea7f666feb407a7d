"""Formatted explains of registry queries.

With no arguments, regenerate PLANS.md: the static plans of the
headline queries in PICKS at sf0.1. With query names, write each named
query's plan to ``<out>/<query>_<tag>.txt`` instead::

    python scripts/dump_plans.py --out plans/r15 --tag before q_a q_b
    python scripts/dump_plans.py --out plans/r15 --tag after --final q_a

``--final`` collects the query first and writes the executed adaptive
plan (``isFinalPlan=true``) to ``<query>_final_<tag>.txt``: exchanges
that AQE reuses at run time show as ReusedExchange only there, while
the static plan is AQE's initial one. Named queries read
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

A query builder that calls ``.localCheckpoint()`` runs the upstream
jobs while the plan is dumped, and its plan shows the checkpoint scan
(``Scan ExistingRDD``) in place of the lineage above it.
"""

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from document_parsing_etl_pipeline_spark.plans.queries import QUERIES
from document_parsing_etl_pipeline_spark.session import get_spark

PICKS = {
    "q1_pricing_summary": "filter pushdown + column pruning + single decimal agg",
    "q3_shipping_priority": "broadcast dim join, shuffle only on l_orderkey",
    "q5_local_supplier": "all dims broadcast; one fact shuffle",
    "dedup_minhash_lsh": "reads the localCheckpointed verified-candidate artifact: a Scan ExistingRDD here, its explode->md5->partial-min and bucket-capped pairing run while the plan is dumped",
    "knn_all_topk": "block matmul mapInPandas + global top-k window",
    "q_documents_list": "doc_id range pushed through explode+agg to both scans",
    "q8_market_share": "p_type filter pushed to part scan; hints only on nation dims, AQE on the rest",
    "q17_small_quantity_revenue": "correlated avg as exact sum+count join; inequality pushed into join condition",
    "knn_brute_cosine": "Arrow-batched cosine kernel (ArrowEvalPython), broadcast query side",
    "q21_sole_blame_suppliers": "EXISTS/NOT-EXISTS de-correlated to one agg pass; no Expand, nation-only hint",
    "knn_ivf_probe": "one n×C centroid scoring pass feeds assignment AND probe lists; candidate join shuffles on posting-list id",
    "q_countmin_heavy_hitters": "sketch builds over the per-key pre-agg; d×w counter table broadcast to the top-k probes",
    "q_bloom_join_audit": "DISTINCT set-bits table broadcast to probes; probe side aggregates k rows/key, never shuffles raw",
    "q_sequence_pack": "MapInPandas recurrence over repartition(doc_id)+sort (one Arrow call per partition)",
    "q_embedding_covariance": "pair fan-out parallelized by a repartition pinned to the core count (4 partitions on a 4-core box); decimal partial agg per core",
    "q_unigram_logprob": "tf pre-agg shrinks the vocab join; 1-row total as broadcast NLJ; inferred isnotnull filters sit at the scans",
    "q_range_join_events": "bucketed interval join: bucket equi-key + range residual, no nested loop",
    "q_cdc_latest_state": "struct-max partial agg: ~one row per key shuffled, no window sort",
    "q_dsir_weights": "single-pass dual bucket models; 256-row broadcast ratio dim; one (doc,bucket) shuffle; inferred isnotnull filters sit at the scans",
    "q_semdedup": "embeddings scans spread over the cores first (spread_scan: hash on vec_id); broadcast centroid assign; pair join shuffles once on centroid_id, quadratic stays in-cluster",
    "q_setsim_prefix_join": "prefix-only shingle join; positional filter as a per-pair row_number window + min agg over one (doc_a, doc_b) repartition; verification joins the |docs|-sized array relation, not re-exploded shingles",
    "q_triangle_count": "localCheckpointed edge/oriented lists; wedge join + closure as equi-joins, no nested loop",
    "q_zorder_layout": "one fact scan -> z-interleave projection -> two layout aggs; bounds and box as 1-row broadcasts",
    "q_grouping_sets_profile": "pre-agg to base cells BEFORE Expand: the 4-set rollup expands 9 rows, not the fact table",
    "q_uniform_sample_exact": "TakeOrderedAndProject: per-partition top-k heaps, no global sort or range exchange",
    "q_weighted_sample": "Efraimidis-Spirakis keys in codegen; exact top-k as TakeOrderedAndProject, rank window over the k-row result",
    "q_zorder3_layout": "one fact scan -> 24-bit interleave projection -> three layout aggs; bounds/box as 1-row broadcasts",
    "q_incremental_components": "batch-prefix x standing-index posting join (never corpus x corpus, no per-run re-shingling); contraction joins against the checkpointed standing map",
    "dedup_simhash": "byte-band bucket join with count+join cap; smallest-shared-band predicate replaces the pair-set distinct() shuffle",
    "q_spearman_rank_corr": "rank = value-partitioned row_number + value-domain running offset; no corpus-sized global sort",
    "q_event_pattern_match": "one groupBy(user) collect -> codegen regexp counts; no window, no join",
}


def dump_named(spark, sf, names, out_dir, tag, final):
    """Write each named query's formatted plan to
    ``out_dir/<query>[_final]_<tag>.txt``."""
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name in names:
        df = QUERIES[name](spark, sf)
        if final:
            df.collect()
        plan = df._jdf.queryExecution().explainString(mode)
        kind = "_final" if final else ""
        path = os.path.join(out_dir, f"{name}{kind}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan.strip() + "\n")
        print("wrote", path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*",
                    help="registry queries to dump (none: regenerate PLANS.md)")
    ap.add_argument("--out", default="plans", help="directory for named dumps")
    ap.add_argument("--tag", help="file-name tag of named dumps")
    ap.add_argument("--final", action="store_true",
                    help="run each query and dump the executed adaptive plan")
    args = ap.parse_args()
    if args.queries and not args.tag:
        ap.error("--tag is required with query names")
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("plans")
    sf = "/root/testdata/sf0.1"
    if args.queries:
        dump_named(spark, os.environ.get("SPARK_GRAFT_SF_DIR", sf),
                   args.queries, args.out, args.tag, args.final)
        return
    out = ["# PLANS — formatted explains of headline queries (sf0.1)",
           "",
           "Regenerate: `python scripts/dump_plans.py`. What to look for is",
           "noted per query; see SURVEY §4 for the full shuffle inventory.",
           ""]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name, note in PICKS.items():
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(mode)
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
