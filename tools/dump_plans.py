"""Regenerate PLANS.md: formatted physical plans for headline queries.

Evidence artifact for plan review — shows broadcasts, pushed filters,
pruned schemas, partial aggregates, and exchange counts without running
anything. Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kyiv_traffic_bigdata_spark.plans import physical_plan
from kyiv_traffic_bigdata_spark.queries import QUERIES
from kyiv_traffic_bigdata_spark.session import get_spark

#: (query, why this one is headline evidence)
HEADLINERS = [
    ("geo_trajectory", "flagship W1 chain: bbox pushdown -> per-key lag window -> haversine -> guards"),
    ("pricing_summary", "TPC-H Q1 shape: partial aggregate under one exchange, pruned scan"),
    ("lineitem_enriched", "dimension enrichment: broadcast joins, zero sort-merge"),
    ("minhash_lsh_pairs", "banded LSH: equi-joins only, no cartesian"),
    ("doc_quality_filter", "distributed percent_rank: slab aggregate, no per-language fact sort"),
    ("doc_pack_windows", "sequence packing: one shard shuffle + bounded running-sum window"),
    ("ann_hamming", "binary ANN: broadcast queries, slab top-k, composite-key window"),
    ("events_changelog_state", "CDC apply: single max_by aggregate, no window"),
    ("doc_bm25_topk", "BM25 retrieval: term-filtered explode, broadcast df/avgdl, TakeOrdered"),
    ("event_markov_transitions", "sequence model: bounded per-user window, broadcast row-normalize"),
    ("order_price_quantiles", "exact distributed quantiles: cumulative window over the histogram, no per-group sort"),
    ("event_cms_heavy_hitters", "count-min sketch: d*w-bounded counter shuffle, broadcast sketch, TakeOrdered"),
    ("doc_hybrid_rrf", "RRF hybrid retrieval: per-ranker TakeOrdered, fusion on shortlists only"),
    ("token_textrank", "TextRank: staged co-occurrence edges, decimal-summed PageRank sweeps"),
    ("neardup_link_prediction", "Adamic-Adar: per-block candidate windows, wedge equi-joins, broadcast degrees"),
    ("user_hll_sketch", "HyperLogLog: map-side-combined register aggregate, |groups|*64-bounded state"),
    ("emb_mrl_recall", "matryoshka recall: two broadcast-probe top-k passes, k-bounded intersection"),
    ("doc_ngram_contamination", "eval decontamination: staged 13-gram index, hint-free membership equi-join"),
    ("event_hopping_stats", "hopping windows: map-side Expand assignment, one group-by exchange, no join"),
    ("doc_token_heavy_hitters", "Misra-Gries exact heavy hitters: bounded candidate broadcast semi-join, token stream never shuffles"),
    ("part_name_fuzzy_matches", "blocked fuzzy ER: distinct-name dimension equi-join, WindowGroupLimit top-1"),
    ("event_poisson_bootstrap", "Poisson bootstrap: map-side x32 explode into one partial aggregate, bounded replicate slab"),
    ("part_price_skyline", "2-D skyline: per-x reduce, bucket-local cummin prune, broadcast frontier join-back"),
    ("geo_morton_density", "Z-order density: map-side integer interleave, one hash aggregate, TakeOrdered top-100"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans")
    out = [
        "# PLANS — formatted physical plans for headline queries",
        "",
        f"Generated by `python tools/dump_plans.py` at `{sf_dir}`. These are",
        "the plans the scale claims in SCALING.md refer to; the plan-shape",
        "tests in tests/test_plans.py pin the load-bearing properties so",
        "regressions fail CI rather than a cluster run.",
        "",
    ]
    for name, why in HEADLINERS:
        plan = physical_plan(QUERIES[name](spark, sf_dir))
        lines = plan.splitlines()
        if len(lines) > 110:
            lines = lines[:110] + [f"... ({len(lines) - 110} more lines)"]
        out += [f"## {name}", "", f"_{why}_", "", "```", *lines, "```", ""]
    with open("PLANS.md", "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
