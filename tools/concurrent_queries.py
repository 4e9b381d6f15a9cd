"""Concurrent-query throughput harness (the reference runs 50 sub-searches
in flight against one connection, OpenSearchConnection.cs:378-379; our
analogue is many simultaneous ``search()`` callers sharing ONE engine's
reader and its compile/broadcast/routing caches).

Measures sequential single-caller latency, then T in-flight threads over
the same mixed query workload, and reports aggregate QPS + per-query p50/
p95 at each level.  Also a thread-safety pin: results per query must be
IDENTICAL across all concurrency levels.

Usage: python tools/concurrent_queries.py [index_dir] [cpus] [threads...]
Prints one JSON line; BENCH.md's concurrency table reads it.
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: mixed workload: phrase / bool / wildcard / range / scored top-k /
#: filtered — the shapes the reference's search API serves
WORKLOAD = [
    ("phrase", '"air force"', dict(limit=10)),
    ("bool", '"women" AND "suffrage"', dict(limit=10)),
    ("wild", "ration*", dict(limit=10)),
    ("range", "SOURCE:[10 TO 50]", dict(limit=10)),
    ("or", '"railway" OR "station"', dict(limit=20)),
    ("filtered", '"force"', dict(limit=10, filters={"lang": ["python", "go"]})),
]


def main() -> None:
    idx = sys.argv[1] if len(sys.argv) > 1 else str(
        REPO / ".scratch" / "decompose_idx_32"
    )
    cpus = sys.argv[2] if len(sys.argv) > 2 else "32"
    levels = [int(a) for a in sys.argv[3:]] or [1, 4, 8, 16]

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine

    # FAIR scheduling: with FIFO, one caller's multi-stage job holds every
    # slot and concurrent callers serialize behind it
    spark = make_spark(
        cpus,
        shuffle_partitions=2 * int(cpus),
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    eng = TaxonomyEngine(spark, idx, config)

    def run_query(qi: int) -> tuple[str, float, tuple]:
        name, text, kw = WORKLOAD[qi % len(WORKLOAD)]
        t0 = time.perf_counter()
        rows = eng.search(text, **kw).collect()
        dt = time.perf_counter() - t0
        sig = tuple((r["doc_id"], round(r["score"], 6)) for r in rows)
        return name, dt, sig

    # warm compile caches once so every level measures steady state
    for qi in range(len(WORKLOAD)):
        run_query(qi)

    n_queries = 48
    baseline_sigs: dict[int, tuple] = {}
    report: dict = {"index": idx, "cpus": cpus, "n_queries": n_queries,
                    "levels": {}}
    for t in levels:
        lat: list[float] = []
        sigs: dict[int, tuple] = {}
        lock = threading.Lock()

        def work(qi: int) -> None:
            _, dt, sig = run_query(qi)
            with lock:
                lat.append(dt)
                sigs[qi % len(WORKLOAD)] = sig

        t0 = time.perf_counter()
        if t == 1:
            for qi in range(n_queries):
                work(qi)
        else:
            with ThreadPoolExecutor(max_workers=t) as ex:
                list(ex.map(work, range(n_queries)))
        wall = time.perf_counter() - t0
        if not baseline_sigs:
            baseline_sigs = dict(sigs)
        mismatches = [
            k for k, v in sigs.items() if baseline_sigs.get(k) != v
        ]
        lat.sort()
        report["levels"][str(t)] = {
            "wall_s": round(wall, 3),
            "qps": round(n_queries / wall, 2),
            "p50_s": round(statistics.median(lat), 4),
            "p95_s": round(lat[int(len(lat) * 0.95) - 1], 4),
            "result_mismatches": mismatches,
        }
    l1 = report["levels"].get("1", {}).get("qps")
    lmax = report["levels"][str(levels[-1])]["qps"]
    if l1:
        report["qps_speedup_max_vs_seq"] = round(lmax / l1, 2)
    print(json.dumps(report), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
