"""Regenerate BENCH/EXPLAINS.md: formatted physical plans of the
headline gates at sf0.01 (the plan shapes the 100 TB claims rest on)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = [
    "pip_join", "pip_join_salted", "knn_kring", "dem_z_sample",
    "jaccard_neardups_lsh", "corpus_clean", "ann_ivf",
    "embedding_neardups_bucketed", "tf_idf", "stratified_sample",
    "contamination_check", "repetition_ratio", "host_stats",
    "tile_checksums",
]
HEAD = """# Physical plans of the headline gates (generated)

`df.explain(formatted)` at sf0.01, local[8]/16 shuffle partitions — the
plan shapes the 100 TB claims rest on: broadcast joins on dimension
sides, partial aggregation before every exchange, filters/pruning at the
scan, pairwise work confined to LSH/IVF buckets, no cartesian products.
Driver-side collects happen only in the vector gates, and only of sets
that are small by construction: `ann_ivf` (and `ann_topk`) collect their
10-row query set, and `embedding_neardups_bucketed` collects the corpus
when it has at most 200k rows, to broadcast it to the pair scorer.
Regenerate with scripts/gen_explains.py.
"""


def main() -> None:
    from gates.registry import all_queries
    from orthority_spark.pyfiles import ensure_on_executors
    from orthority_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    ensure_on_executors(spark)
    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    out = [HEAD]
    for n in NAMES:
        fn, _ = qs[n]
        df = fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).strip().splitlines()
        if len(plan) > 110:
            plan = plan[:110] + [
                f"... ({len(plan) - 110} more detail lines trimmed)"
            ]
        out.append(f"## {n}\n\n```\n" + "\n".join(plan) + "\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH", "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
