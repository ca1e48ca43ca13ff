"""A/B/C: naive inverted-index similarity join vs the prefix-filtered one
(VERDICT r3 items 1+2 — cut the vocab-scale linking wall, measure linking
QUALITY under the engaged cap, not just cost).

Same corpus, same AUTO df-cap, three strategies through the full
build_linking_tables, always on the distributed cascade
(``local_max_vocab=0``: below 50k norms an uncapped vocabulary would
otherwise build driver-side, where the strategies are not used):

  all           the naive Σ df² inverted-index join (r3 baseline)
  prefix_parity ppjoin prefix filtering, cap on candidates AND scoring —
                bit-for-bit the naive capped lower-bound scores; the gated
                edge md5 must be IDENTICAL to `all`
  prefix        (default) cap bounds candidate generation only, scoring is
                EXACT — gated edges are a measured SUPERSET of `all`; the
                planted-pair recall shows what the superset buys

Reports wall seconds per strategy, edge md5s, the speedup, and the
planted mergeable/hard pair stats for each leg.

Run serially (no concurrent Spark jobs). Usage:
  PYTHONPATH=/root/repo python scripts/prefix_bench.py [n_convs] [vocab_scale] [strategies]

``strategies`` is a comma list (default "all,prefix_parity,prefix").
At the top vocabulary tiers the naive Σ df² leg is the measurement that
does NOT finish in bench budget — pass "prefix_parity,prefix" there; the
cross-strategy md5/superset summary lines are emitted only for the
strategies actually run.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from named_entity_algorithm_project_spark.datagen import (
    generate_transcripts,
    planted_alias_pairs,
    planted_hard_pairs,
    planted_pair_edge_stats,
)
from named_entity_algorithm_project_spark.operators.extract import (
    extract_combined,
    split_extraction,
)
from named_entity_algorithm_project_spark.operators.linking import (
    build_linking_tables,
)
from named_entity_algorithm_project_spark.session import get_spark


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    vocab_scale = int(sys.argv[2]) if len(sys.argv) > 2 else 1_250
    strategies = (
        sys.argv[3].split(",")
        if len(sys.argv) > 3
        else ["all", "prefix_parity", "prefix"]
    )
    # shuffle partitions are scale-set by the caller (guide §2.2): 32 is
    # right up to the ~460k-norm tier; the 917k-norm tier packs ~1M weight
    # rows per partition per join side at 32, which starves the score
    # HashAggregate's map init under a 1 GiB/core heap (r6 tier-4 finding —
    # UNABLE_TO_ACQUIRE_MEMORY; 128 partitions OR 3 GiB/core both clear it)
    spark = get_spark(
        app_name="prefix-bench",
        master="local[8]",
        shuffle_partitions=int(
            os.environ.get("KG_PREFIX_SHUFFLE_PARTITIONS", "32")
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")

    transcripts = generate_transcripts(
        spark, n_convs=n_convs, seed=42, vocab_scale=vocab_scale
    )
    extracted = extract_combined(transcripts).localCheckpoint(eager=True)
    mentions, abbrevs = split_extraction(extracted)

    results = {}
    edge_sets = {}
    for strategy in strategies:
        t0 = time.time()
        linking = build_linking_tables(
            mentions, abbrevs, tfidf_candidates=strategy, local_max_vocab=0
        )
        edge_rows = sorted(
            (r["src"], r["dst"]) for r in linking.edges.collect()
        )
        wall = time.time() - t0
        digest = hashlib.md5(
            "\n".join(f"{a}\t{b}" for a, b in edge_rows).encode()
        ).hexdigest()
        mp, mh = planted_pair_edge_stats(
            spark, linking.norms, linking.edges,
            planted_alias_pairs(vocab_scale),
        )
        hp, hh = planted_pair_edge_stats(
            spark, linking.norms, linking.edges,
            planted_hard_pairs(vocab_scale),
        )
        edge_sets[strategy] = set(edge_rows)
        results[strategy] = {"wall_s": round(wall, 1)}
        print(
            json.dumps(
                {
                    "strategy": strategy,
                    "n_convs": n_convs,
                    "vocab_scale": vocab_scale,
                    "n_norms": linking.n_norms,
                    "auto_df_cap": linking.candidate_max_df,
                    "n_edges": len(edge_rows),
                    "edge_md5": digest,
                    "wall_s": round(wall, 1),
                    "planted_present": mp,
                    "planted_linked": mh,
                    "planted_recall": round(mh / mp, 4) if mp else None,
                    "hard_present": hp,
                    "hard_linked": hh,
                }
            ),
            flush=True,
        )
    summary = {}
    if "all" in edge_sets and "prefix_parity" in edge_sets:
        summary["parity_md5_identical"] = (
            edge_sets["all"] == edge_sets["prefix_parity"]
        )
        summary["speedup_parity"] = round(
            results["all"]["wall_s"]
            / max(results["prefix_parity"]["wall_s"], 1e-9),
            2,
        )
    if "all" in edge_sets and "prefix" in edge_sets:
        summary["exact_superset_of_naive"] = (
            edge_sets["all"] <= edge_sets["prefix"]
        )
        summary["speedup_exact"] = round(
            results["all"]["wall_s"] / max(results["prefix"]["wall_s"], 1e-9),
            2,
        )
    if "prefix_parity" in edge_sets and "prefix" in edge_sets:
        summary["exact_superset_of_parity"] = (
            edge_sets["prefix_parity"] <= edge_sets["prefix"]
        )
    if summary:
        print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
