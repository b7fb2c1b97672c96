#!/usr/bin/env python
"""Regenerate PLANS.md: captured physical plans for representative keys.

Run from the repo root:  python scripts/dump_plans.py [sf_dir]

The file exists so plan-level claims (pushdown, broadcast, zero-shuffle
bucketed diff, codegen'd kernels) are inspectable without running Spark;
tests/test_plans.py enforces the same properties mechanically.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = [
    ("diff_cdc_fullouter",
     "one full-outer sort-merge join, one shuffle per side, classify+filter stage-local"),
    ("join_multiway_star",
     "fact scan + broadcast hash joins for every dim, partial agg before the single exchange"),
    ("agg_multi_measures",
     "TPC-H Q1 shape: pushed filter, pruned ReadSchema, partial+final hash aggregate"),
    ("join_range_banded",
     "range predicate as bucket equi-join (no nested loop), residual filter after the join"),
    ("sim_topk_cosine",
     "unrolled codegen dot product; WindowGroupLimit prunes to top-k before the final sort"),
    ("win_row_number_dedup",
     "single hash-partitioned window, WindowGroupLimit partial before the exchange"),
    ("dedup_minhash_lsh",
     "slim signatures (16 longs/doc); SKINNY band self-join (24-byte rows, reused exchange); corpus semi-joined to colliding ids before candidate-sized shingle fetch (r6)"),
    ("scan_sql_dump",
     "native lineSep text scan -> JVM statement split; Python only in the Arrow tokenizer"),
    ("dedup_simhash",
     "block-permutation tables ride ONE exploded self-join; bucket-cap window shares the join exchange (ReusedExchange)"),
    ("scan_partition_pruned",
     "partition filter resolved at file listing (PartitionFilters), partition column absent from ReadSchema"),
    ("agg_stats_moments",
     "exact decimal accumulators: partial+final hash aggregate around one exchange, closed forms stage-local"),
    ("diff_bucketed_zeroshuffle",
     "the 100-TB steady state: bucketed+sorted snapshots make the full-outer diff ZERO-Exchange (scan -> merge join, no shuffle)"),
    ("text_tfidf_topk",
     "two map-side-combinable aggs; vocabulary-sized df join AQE/broadcast-resolved; 1-row broadcast corpus count"),
    ("dedup_ngram_containment",
     "inverted-index self-join computed once per unordered pair; both directions explode from it (no second join)"),
    ("join_runtime_bloom",
     "runtime semi-join reduction: might_contain(bloom) probe in the FACT scan's filter, rows drop before the shuffle"),
    ("win_sessionize",
     "lag window, running-sum window, and session rollup all reuse ONE user_id hash partitioning (single Exchange)"),
    ("text_chunk_split",
     "doc-local tokenize -> sequence-explode -> slice: zero Exchanges, zero Python, all codegen built-ins"),
    ("sink_cdc_compact",
     "two full-outer diffs union into ONE pk-keyed compaction agg (arg-min/max partial-aggregate map-side)"),
    ("dedup_incremental",
     "batch and corpus share the banded-LSH bucket keys; the join is batch x corpus - no corpus self-join in the plan"),
    ("sample_temperature_mix",
     "corpus pass = scan -> broadcast hash join (domain-sized rate table) -> filter; stats side lang-bounded"),
    ("dedup_soft_keep",
     "banded-LSH pairs -> iterative components -> component-keyed size agg; weighting is stage-local integer math"),
    ("dedup_embedding_cosine",
     "exact tiled all-pairs kernel below 50 k vectors: rows copied to their tile pairs, ONE exchange into a grouped numpy applyInPandas (BLAS prefilter + engine-arithmetic re-score), no candidate self-join and no embedding re-fetch joins; hyperplane-LSH blocking from 50 k up"),
    ("dedup_embedding_incremental",
     "batch x corpus band join on the shared bucket vectors — no corpus self-join; verdict aggregates over exact-verified pairs only (r7)"),
    ("dedup_paragraph",
     "repeated-span scrub (r8): chunk explode -> ONE (chunk) shuffle for freq + min(struct) keep-first (partial-aggregable, no row_number sort over boilerplate-skewed partitions) -> join back -> one (doc_id) reassembly agg"),
    ("sample_token_budget",
     "token-budget selection (r8): two-level prefix sum — bounded per-score aggregate, broadcast driver offsets, ONE score-partitioned window; no Exchange SinglePartition, no global sort"),
    ("corpus_version_diff",
     "release CDC (r9): both corpus versions project to (doc_id, sha2 digest, lang, n_chars) BEFORE the full-outer join — exchanges carry digests, never document text"),
    ("sample_reshard_seeded",
     "seeded reshard (r9): ONE shard hash-partitioned exchange, per-shard row_number windows — no rangepartitioning, no SinglePartition"),
    ("scan_pg_dump",
     "pg COPY ingest (r9): line-parallel text scan, broadcast range join assigns lines to blocks (no corpus shuffle), built-in tab-split/unescape/typed-cast"),
    ("text_gopher_filters",
     "rule battery (r9): layered projections keep ONE split() per document (CollapseProject spares multi-referenced non-cheap aliases); zero Exchanges, no lambda expressions (interpreted — the measured 43x tax)"),
    ("sample_mix_epochs",
     "epoch upsampling (r9): domain-sized ratio table broadcast onto the corpus scan, epochs fan out in a map-side Generate explode — zero corpus shuffles"),
    ("corpus_curate_incremental",
     "ingest-time curation (r10): returned plan descends from batch-sized eager checkpoints (scrub/digest/band work ran once under a released cache); digest gate semi-joins 64-byte sha2s, near gate is the batch x corpus band join — no corpus self-join anywhere"),
    ("dedup_incremental_indexed",
     "at-rest-index ingest dedup (r11): corpus band keys read from the bucketed stored table (dss_atrest_bands scan) — only the BATCH side computes signatures; corpus text touched solely for the candidate semi-joined shingle fetch"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from database_syncer_spark.registry import all_queries
    from database_syncer_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    out = [
        "# PLANS — captured physical plans (generated by scripts/dump_plans.py)",
        "",
        f"Source fixtures: `{sf_dir}`. These are `explain('formatted')` captures",
        "of representative keys; tests/test_plans.py asserts the load-bearing",
        "properties (broadcasts, pushdown, exchange counts, codegen) so they",
        "cannot silently regress. Regenerate after plan-shape changes.",
        "",
    ]
    for key, why in KEYS:
        df = qs[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        # Strip volatile ids so regeneration diffs stay readable.
        plan = re.sub(r"#\d+L?", "#x", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
        plan = re.sub(r"\[id=#x\]", "", plan)
        plan = re.sub(r"@[0-9a-f]{6,}\b", "@x", plan)  # literal object ids
        lines = plan.rstrip().splitlines()
        if len(lines) > 400:
            # Iterative keys (connected components) unroll their loop
            # lineage into the EXPLAIN string — thousands of repeated
            # join blocks that execution never recomputes (the frontier
            # is persisted per round). Keep the plan head; the guard
            # tests assert the load-bearing shape.
            lines = lines[:400] + [
                "",
                f"... [{len(lines) - 400} more lines elided: "
                "iterative lineage unroll; execution persists each "
                "round's frontier — see tests/test_plans.py guards]",
            ]
        out += [f"## {key}", "", f"*{why}*", "", "```",
                "\n".join(lines), "```", ""]

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
