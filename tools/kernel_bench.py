"""Deterministic in-process eval-kernel microbench + profile.

The driver-window categorise numbers on this host swing with external
load, so kernel changes can't be judged from end-to-end walls alone.
This tool replays ONE (chunk, band) eval group's exact shuffled input
(dumped by eval_group under SPARK_GRAFT_EVAL_DUMP) through the same
evaluator construction eval_group performs, single-threaded, and
reports per-category medians over N repeats plus an optional cProfile
breakdown — pure kernel CPU, no Spark scheduling or memory-bandwidth
contention from sibling tasks.

Usage:
  1. dump:    SPARK_GRAFT_EVAL_DUMP=/tmp/evaldump python tools/eval_decompose.py 32
  2. replay:  python tools/kernel_bench.py /tmp/evaldump/group_0_3.parquet \
                  [index_dir] [--repeat N] [--profile] [--scored]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    argv = sys.argv[1:]
    repeat = 5
    if "--repeat" in argv:
        i = argv.index("--repeat")
        repeat = int(argv[i + 1])
        del argv[i : i + 2]
    profile = "--profile" in argv
    scored = "--scored" in argv
    args = [a for a in argv if not a.startswith("--")]
    group_path = args[0]
    idx = args[1] if len(args) > 1 else str(REPO / ".scratch" / "decompose_idx_32")

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.operators import search as so
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import load_categories

    name = Path(group_path).stem  # group_<chunk>_<band>
    _, chunk_s, band_s = name.split("_")
    chunk, band = int(chunk_s), int(band_s)

    spark = make_spark("2", shuffle_partitions=2)
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    reader = so.IndexReader(spark, idx, config)
    pairs = [(c["category_id"], c["query_text"]) for c in load_categories()]
    compiled, virtual, df_map, bucket_map, tid_map = so.compile_queries(
        reader, pairs, config
    )
    # same chunk packing as run_categories
    sorted_cids = sorted(compiled)
    chunk_size = max(1, int(config.eval_chunk_size))
    chunk_cids: dict[int, list[str]] = {}
    for i, cid in enumerate(sorted_cids):
        chunk_cids.setdefault(i // chunk_size, []).append(cid)
    cids = chunk_cids[chunk]
    nodes = {cid: compiled[cid] for cid in cids}
    needs_pos = any(so.has_phrase(n) for n in nodes.values())

    n_docs = float(reader.n_docs)
    avgdl = dict(reader.avgdl)
    norm_safety = dict(reader.norm_safety)
    ord_shift = reader.ord_shift
    field_names = [f.name for f in config.fields]
    pdf = pd.read_parquet(group_path)
    spark.stop()  # everything below is pure numpy/pandas

    def build_ev():
        rows_by_term = so._split_by_term(pdf)
        _, dead, dl_by_field = so.band_sidecars(
            rows_by_term.pop(so.DOCMAP_TID, None), field_names
        )
        band_start = np.int64(band) << np.int64(ord_shift)
        ev = so._Evaluator(
            rows_by_term, df_map, n_docs, config.k1, config.b, avgdl,
            scored, needs_pos, tid_map, dl_by_field, int(band_start),
            dead=dead, norm_safety=norm_safety,
        )
        if "vkeys" in pdf.columns:
            cmap: dict[str, set[int]] = {}
            vk_col = pdf["vkeys"]
            mask = vk_col.map(lambda v: v is not None and len(v) > 0)
            for tid_v, vk in zip(pdf.loc[mask, "term_id"].to_numpy(), vk_col[mask]):
                for k in vk:
                    cmap.setdefault(k, set()).add(int(tid_v))
            ev.construct_tids = {k: sorted(v) for k, v in cmap.items()}
        return ev

    def one_pass(ev):
        walls = {}
        total_matches = 0
        for cid in cids:
            t0 = time.perf_counter()
            ids, _ = ev.eval(nodes[cid])
            walls[cid] = time.perf_counter() - t0
            total_matches += len(ids)
        return walls, total_matches

    if profile:
        import cProfile
        import pstats

        ev = build_ev()
        pr = cProfile.Profile()
        pr.enable()
        one_pass(ev)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
        return

    runs = []
    matches = None
    for _ in range(repeat):
        ev = build_ev()  # fresh decode cache each repeat (real cost shape)
        t0 = time.perf_counter()
        walls, matches = one_pass(ev)
        runs.append((time.perf_counter() - t0, walls))
    med_total = statistics.median(r[0] for r in runs)
    per_cid = {
        cid: statistics.median(r[1][cid] for r in runs) for cid in cids
    }
    top = sorted(per_cid.items(), key=lambda kv: -kv[1])[:12]
    print(
        json.dumps(
            {
                "group": name,
                "scored": scored,
                "repeat": repeat,
                "median_total_s": round(med_total, 4),
                "matches": matches,
                "top_cids": [(c, round(w, 4)) for c, w in top],
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
