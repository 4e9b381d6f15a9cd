"""Per-stage build decomposition at one parallelism level.

Builds the index fresh (resume=False) with bench.py's exact config/corpus
and prints per-stage wall times derived from the manifest's stage-commit
timestamps (the derivation BENCH.md's round-3 stage table used).  Stage
boundaries: ords | docs+staging (concurrent) | doc_stats |
docmap+dictionary (concurrent) | postings merge+write.

Usage: python tools/build_decompose.py <cpus> [rows]
Prints one JSON line; run each level in its own process (fresh JVM).
The synthesized corpus parquet is cached per row count so every level
reads byte-identical input.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    cpus = int(sys.argv[1])
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 250000

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        build_index,
    )
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
        synthesize_corpus,
        with_doc_ids,
    )

    spark = make_spark(str(cpus), shuffle_partitions=2 * cpus)
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    corpus_dir = REPO / ".scratch" / f"decompose_corpus_{rows}"
    if not (corpus_dir / "_SUCCESS").exists():
        corpus = with_doc_ids(
            synthesize_corpus(
                spark, rows, min_words=50, max_words=450,
                identifier_rate=7, num_partitions=64,
            )
        )
        corpus.write.mode("overwrite").parquet(str(corpus_dir))
    corpus = spark.read.parquet(str(corpus_dir))

    out = REPO / ".scratch" / f"decompose_idx_{cpus}"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    cat = build_index(spark, corpus, str(out), config, resume=False)
    wall = time.time() - t0

    st = cat.manifest()["stages"]
    ts = {k: v["ts"] for k, v in st.items()}
    stages = {
        "ords": ts["ords"] - t0,
        "docs+staging": ts["staging"] - ts["ords"],
        "doc_stats": ts["doc_stats"] - ts["staging"],
        "docmap+dictionary": max(ts["docmap"], ts["dictionary"])
        - ts["doc_stats"],
        "postings_merge": ts["complete"]
        - max(ts["docmap"], ts["dictionary"]),
    }
    print(
        json.dumps(
            {
                "cpus": cpus,
                "rows": rows,
                "build_wall_sec": round(wall, 3),
                "stages_sec": {k: round(v, 3) for k, v in stages.items()},
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
