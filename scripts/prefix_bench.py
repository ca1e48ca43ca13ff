"""Linking A/B: the default build_linking_tables path against the forced
distributed cascade on one corpus.

Two legs through the full build_linking_tables, same corpus, same AUTO
df-cap:

  default       whatever the size gate picks — driver-local up to 50k
                uncapped norms (MERGE_HINT_MIN_VOCAB), distributed above
  distributed   ``local_max_vocab=0``: the Spark prefix-filtered join at
                any size

Reports, per leg, the path that ran, wall seconds, the sorted-edge md5 and
the planted mergeable/hard pair stats, then one line saying whether the
two md5s match (they must whenever both legs run uncapped).

Run serially (no concurrent Spark jobs). Usage:
  PYTHONPATH=. python scripts/prefix_bench.py [n_convs] [vocab_scale]
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

    md5s = {}
    for leg, kw in (("default", {}), ("distributed", {"local_max_vocab": 0})):
        t0 = time.time()
        linking = build_linking_tables(mentions, abbrevs, **kw)
        edge_rows = sorted(
            (r["src"], r["dst"]) for r in linking.edges.collect()
        )
        wall = time.time() - t0
        md5s[leg] = hashlib.md5(
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
        print(
            json.dumps(
                {
                    "leg": leg,
                    "path": linking.path,
                    "n_convs": n_convs,
                    "vocab_scale": vocab_scale,
                    "n_norms": linking.n_norms,
                    "auto_df_cap": linking.candidate_max_df,
                    "n_edges": len(edge_rows),
                    "edge_md5": md5s[leg],
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
    print(
        json.dumps({"md5_match": md5s["default"] == md5s["distributed"]}),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
