"""Postings-merge internal decomposition at one parallelism level.

Against a prebuilt index's committed STAGING + DICTIONARY (from
tools/build_decompose.py), times four cumulative ablations of the merge
job so the stage's wall splits into scan / salt / shuffle / kernel+write:

  A  scan           read staging kind=0, force the binary columns
  B  scan+salt      + _salt_packed_runs
  C  +shuffle       + repartition(term_id, salt) + passthrough mapInArrow
  D  full merge     the real _build_postings_single_job (kernel + write)

Usage: python tools/merge_decompose.py <cpus> [index_dir]
Prints one JSON line; run each level in its own process (fresh JVM).
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
    import pyspark.sql.functions as F

    cpus = int(sys.argv[1])
    idx = (
        sys.argv[2]
        if len(sys.argv) > 2
        else str(REPO / ".scratch" / f"decompose_idx_{cpus}")
    )

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.operators import index_build as ib
    from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog

    spark = make_spark(str(cpus), shuffle_partitions=2 * cpus)
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    cat = IndexCatalog(idx)
    n_docs = int(cat.manifest()["stages"]["ords"]["metrics"]["n_docs"])
    ord_bits = ib.ord_bits_of(n_docs)

    force = lambda df: df.agg(  # noqa: E731 — force binary columns to be read
        F.sum(
            F.length("ord_bytes")
            + F.length("tf_bytes")
            + F.length("pos_lens")
            + F.length("pos_data")
        ).alias("b"),
        F.sum("n").alias("n"),
    ).collect()[0]

    t = {}
    staged_all = spark.read.parquet(cat.path(IndexCatalog.STAGING)).where(
        F.col("kind") == 0
    )

    t0 = time.time()
    r = force(staged_all)
    t["A_scan"] = time.time() - t0
    payload_bytes, n_postings = int(r["b"]), int(r["n"])

    heavy = ib._heavy_salt_map(cat.read(spark, IndexCatalog.DICTIONARY), config)
    t0 = time.time()
    salted = ib._salt_packed_runs(staged_all, heavy, ord_bits)
    force(salted)
    t["B_scan_salt"] = time.time() - t0

    n_parts = ib._merge_partitions(spark, cat)

    def passthrough(batches):
        for rb in batches:
            yield rb

    t0 = time.time()
    shuffled = (
        ib._salt_packed_runs(staged_all, heavy, ord_bits)
        .repartition(n_parts, "term_id", "salt")
        .mapInArrow(passthrough, ib.SALTED_SCHEMA)
    )
    force(shuffled)
    t["C_scan_salt_shuffle"] = time.time() - t0

    # full merge into a throwaway postings dir (restore manifest after)
    import copy

    saved_manifest = copy.deepcopy(cat.manifest())
    post_dir = Path(cat.path(IndexCatalog.POSTINGS))
    backup = post_dir.with_name(post_dir.name + "_bak")
    if post_dir.exists():
        post_dir.rename(backup)
    try:
        import numpy as np

        stats = {
            r2["field"]: float(r2["avgdl"])
            for r2 in spark.read.parquet(cat.path(IndexCatalog.DOC_STATS)).collect()
        }
        field_names = [f.name for f in config.fields]
        avgdl_ord = np.array(
            [stats.get(fn, 1.0) for fn in field_names], dtype=np.float64
        )
        ord_shift = ib.ord_shift_of(n_docs, int(cat.get_meta("band_bits") or 0))
        builder = ib.make_merge_builder(
            float(n_docs), avgdl_ord, config.k1, config.b,
            config.block_size, ord_shift,
        )
        t0 = time.time()
        ib._build_postings_single_job(spark, cat, config, builder, ord_bits)
        t["D_full_merge_write"] = time.time() - t0
    finally:
        shutil.rmtree(post_dir, ignore_errors=True)
        if backup.exists():
            backup.rename(post_dir)
        cat._write_manifest(saved_manifest)

    print(
        json.dumps(
            {
                "cpus": cpus,
                "index": idx,
                "n_postings": n_postings,
                "staging_payload_bytes": payload_bytes,
                "merge_partitions": n_parts,
                **{k: round(v, 3) for k, v in t.items()},
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
