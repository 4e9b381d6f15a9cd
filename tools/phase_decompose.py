"""Per-JOB decomposition of the overlapped dict+docmap+postings phase.

Round-5 found this phase scales 4c->16c at 0.50 (45.3 s @16c at 1M,
byte-repeatable) while tokenize scales at 0.91.  This tool names the pole:
starting from a COMPLETED index, it regresses exactly one of the three
stages in a copy of the catalog and re-runs build_index (resume=True), so
each stage's wall is measured ALONE at the given parallelism — no overlap,
no contention from its siblings.

Usage: python tools/phase_decompose.py <cpus> [rows] [src_idx]
Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def regress(src: Path, dst: Path, stage: str) -> None:
    """Copy the index and un-commit one stage (+ its table)."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    mpath = dst / "manifest.json"
    m = json.loads(mpath.read_text())
    m["stages"].pop("complete", None)
    if stage == "postings":
        m["buckets"] = {}
        m.get("meta", {}).pop("postings_attempts", None)
        shutil.rmtree(dst / "postings", ignore_errors=True)
    else:
        m["stages"].pop(stage, None)
        shutil.rmtree(dst / stage, ignore_errors=True)
    mpath.write_text(json.dumps(m))


def main() -> None:
    cpus = int(sys.argv[1])
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    src = Path(
        sys.argv[3]
        if len(sys.argv) > 3
        else REPO / ".scratch" / f"decompose_idx_{cpus}"
    )

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        build_index,
    )

    spark = make_spark(str(cpus), shuffle_partitions=2 * cpus)
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    corpus = spark.read.parquet(
        str(REPO / ".scratch" / f"decompose_corpus_{rows}")
    )
    walls = {}
    for stage in ("dictionary", "docmap", "postings"):
        dst = REPO / ".scratch" / f"phase_{stage}_{cpus}"
        regress(src, dst, stage)
        t0 = time.time()
        build_index(spark, corpus, str(dst), config, resume=True)
        walls[stage] = round(time.time() - t0, 3)
        shutil.rmtree(dst, ignore_errors=True)
    print(
        json.dumps({"cpus": cpus, "rows": rows, "solo_walls_sec": walls}),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
