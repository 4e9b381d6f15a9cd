"""136-category evaluation floor decomposition at one parallelism level.

Against a prebuilt index (tools/build_decompose.py's output), splits the
batch-categorise wall into: cold query compile (dictionary job +
expansion job), first bool evaluation (includes routing/broadcast
construction), warm bool evaluation (compile + routing cached), and warm
scored evaluation.  The bool/scored deltas between parallelism levels
separate the serial driver floor from the parallel eval work.

Usage: python tools/eval_decompose.py <cpus> [index_dir]
Prints one JSON line; run each level in its own process (fresh JVM).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    cpus = int(sys.argv[1])
    idx = (
        sys.argv[2]
        if len(sys.argv) > 2
        else str(REPO / ".scratch" / f"decompose_idx_{cpus}")
    )

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.operators.search import (
        IndexReader,
        compile_queries,
        run_categories,
    )
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
        load_categories,
    )

    spark = make_spark(str(cpus), shuffle_partitions=2 * cpus)
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    reader = IndexReader(spark, idx, config)
    pairs = [
        (c["category_id"], c["query_text"]) for c in load_categories()
    ]

    t = {}
    t0 = time.time()
    compile_queries(reader, pairs, config)
    t["compile_cold"] = time.time() - t0

    t0 = time.time()
    n_bool = run_categories(spark, reader, pairs, scored=False).count()
    t["bool_first"] = time.time() - t0

    t0 = time.time()
    run_categories(spark, reader, pairs, scored=False).count()
    t["bool_warm"] = time.time() - t0

    t0 = time.time()
    n_scored = run_categories(
        spark, reader, pairs, scored=True, top_k=100
    ).count()
    t["scored_warm"] = time.time() - t0

    print(
        json.dumps(
            {
                "cpus": cpus,
                "index": idx,
                "bool_matches": n_bool,
                "scored_rows": n_scored,
                **{k: round(v, 3) for k, v in t.items()},
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
