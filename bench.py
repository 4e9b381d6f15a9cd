"""Benchmark harness (driver-run per round; see BASELINE.md).

Measures the two authoritative metrics from BASELINE.json on a deterministic
synthesized corpus sized by the scale factor:

* index-build throughput (docs/sec) — full build, fresh (no resume);
* taxonomy query latency — all 136 categories in one distributed pass
  (boolean + scored top-k modes) plus per-query p50/p95 over a
  representative sample run query-at-a-time.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) — sf parsed from the
directory name sizes the corpus (sf0.1 -> 500k docs, FIXTURES.md §1);
SPARK_GRAFT_CPUS (default 32).  Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
os.environ.setdefault("PYTHONPATH", str(Path(__file__).resolve().parent))

REPRESENTATIVE = [
    "Air Force", "Chartism", "Freemasons", "Rationing", "UFOs",
    "Votes for women", "Europe", "Medicine and health", "Poverty",
    "Crime and criminals",
]


def _copy_rate(_):
    import time as _time

    import numpy as np

    a = np.empty(1 << 26, dtype=np.uint8)
    a[:] = 1
    b = np.empty(1 << 26, dtype=np.uint8)
    t0 = _time.time()
    n = 0
    while _time.time() - t0 < 0.7:
        np.copyto(b, a)
        n += 1
    return 2 * n * (1 << 26) / (_time.time() - t0) / 1e9


def _host_membw(procs: int) -> float:
    """Aggregate memcpy GB/s over ``procs`` workers (preallocated buffers,
    no page faults in the timed loop).  Best of two pools — the first
    after other load under-reads (cold scheduler/frequency state).

    Recorded in the bench JSON as window-health evidence: this host's
    DRAM subsystem has been observed to swing 43↔143 GB/s aggregate
    across boots/windows, moving the bandwidth-bound build stages ~3x
    at identical code (BENCH.md host-state postscript) — a wall-clock
    number is only interpretable next to the window it ran in."""
    import multiprocessing as mp

    best = 0.0
    for _ in range(2):
        with mp.Pool(procs) as p:
            best = max(best, sum(p.map(_copy_rate, range(procs))))
    return round(best, 1)


def _driver_heap() -> str:
    """A third of the host's RAM, at most the package default (48g): the
    driver JVM shares the host with one Python worker per core, and a
    48g heap on a 16 GB host lets it grow until the workers run short."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(48, kb // 3 // 2**20))}g"


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    # 250k rows/sf0.1 of ~1.7 KB docs carry ~2.5x the tokens of the old
    # 500k short-doc slice while keeping a driver round under ~10 min
    n_rows = int(os.environ.get("BENCH_ROWS", int(250_000 * sf / 0.1)))

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
    from ds_discovery_opensearch_taxonomy_spark.operators.search import run_categories
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
        load_categories,
        synthesize_corpus,
        with_doc_ids,
    )

    n_cpus = int(cpus) if cpus != "*" else (os.cpu_count() or 8)
    # window health, measured BEFORE the JVM exists so it reads the host,
    # not our own load; lo=4 workers (where this box's degraded boots
    # already saturate) and hi=n_cpus
    membw_lo = _host_membw(min(4, n_cpus))
    membw_hi = _host_membw(n_cpus)
    spark = make_spark(
        cpus, shuffle_partitions=2 * n_cpus, driver_memory=_driver_heap()
    )
    # n_eval_bands is CONSTANT across parallelism levels (it shapes the
    # index: blocks never cross band boundaries) so the scaling protocol
    # builds byte-identical indexes at N and 4N cores.  16 bands is the
    # measured sweet spot at this scale: 64 shreds mid-df terms into
    # 1-posting blocks (build +25%, per-query scans 3x slower) while 8
    # caps eval parallelism; eval tasks = chunks x bands (2 x 16 = 32).
    config = EngineConfig(
        n_term_buckets=8,
        n_eval_bands=int(os.environ.get("BENCH_EVAL_BANDS", 16)),
        salt_target_postings=int(os.environ.get("BENCH_SALT_TARGET", 20_000)),
    )
    idx_dir = Path(".scratch") / f"bench_index_{n_cpus}_{n_rows}"
    shutil.rmtree(idx_dir, ignore_errors=True)

    # realistic source-file length (mean ~250 words ≈ 1.7 KB): at the
    # reference's tiny test-doc length the build is bounded by per-task and
    # per-file fixed costs, not tokenization/compression — scaling numbers
    # would measure Spark overheads instead of the engine
    min_w = int(os.environ.get("BENCH_MIN_WORDS", 50))
    max_w = int(os.environ.get("BENCH_MAX_WORDS", 450))
    ident_rate = int(os.environ.get("BENCH_IDENT_RATE", 7))  # 7/10 slots
    # FIXED corpus partitioning (independent of cpus): both scaling levels
    # must read byte-identical input with enough row groups for either
    corpus = with_doc_ids(
        synthesize_corpus(
            spark, n_rows, min_words=min_w, max_words=max_w,
            identifier_rate=ident_rate, num_partitions=64,
        )
    )
    corpus.write.mode("overwrite").parquet(str(idx_dir) + "_corpus")
    corpus = spark.read.parquet(str(idx_dir) + "_corpus")

    timings: dict[str, float] = {}
    load_start = os.getloadavg()

    t0 = time.time()
    engine = TaxonomyEngine.build(spark, corpus, str(idx_dir), config, resume=False)
    timings["index_build"] = round(time.time() - t0, 3)
    load_after_build = os.getloadavg()

    if os.environ.get("BENCH_BUILD_ONLY") == "1":
        # scaling-protocol mode: the pair efficiency criterion is on the
        # BUILD; skipping the query/stream sections halves each sample's
        # wall so a pair fits inside one tenancy window on this host
        out = {
            "metric": "index_build_wall_seconds",
            "value": timings["index_build"],
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "docs": n_rows,
            "cpus": n_cpus,
            "index_build_docs_per_sec": round(
                n_rows / timings["index_build"], 1
            ),
            "host_membw_gbps": {"4": membw_lo, str(n_cpus): membw_hi},
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_after_build": [round(x, 2) for x in load_after_build],
            "total_sec": timings["index_build"],
        }
        print(json.dumps(out))
        return 0

    cats = load_categories()
    pairs = [(c["category_id"], c["query_text"]) for c in cats]

    t0 = time.time()
    n_bool = run_categories(spark, engine.reader, pairs, scored=False).count()
    timings["categorise_136_bool"] = round(time.time() - t0, 3)

    t0 = time.time()
    n_scored = run_categories(
        spark, engine.reader, pairs, scored=True, top_k=100
    ).count()
    timings["categorise_136_scored_top100"] = round(time.time() - t0, 3)

    # streaming daily-update path: micro-batch categorise via the in-memory
    # per-batch index (same docs, no global-index reads beyond stats)
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        categorise_batch,
    )

    stream_rows = min(50_000, n_rows)
    stream_batch = (
        corpus.limit(stream_rows).drop("doc_id", "content_sha").repartition(n_cpus)
    )
    t0 = time.time()
    categorise_batch(engine, stream_batch).count()
    timings["categorise_stream_50k"] = round(time.time() - t0, 3)
    stream_rate = round(stream_rows / timings["categorise_stream_50k"], 1)

    # per-query latency sample (query-at-a-time, includes Spark job overhead)
    by_title = {c["title"]: c for c in cats}
    lat = []
    for title in REPRESENTATIVE:
        c = by_title.get(title)
        if not c:
            continue
        t0 = time.time()
        run_categories(
            spark, engine.reader, [(c["category_id"], c["query_text"])],
            scored=True, top_k=100,
        ).collect()
        dt = time.time() - t0
        lat.append(dt)
        timings[f"q_{c['category_id']}"] = round(dt, 3)
    lat.sort()
    p50 = lat[len(lat) // 2] if lat else 0.0
    p95 = lat[min(len(lat) - 1, int(len(lat) * 0.95))] if lat else 0.0

    total = sum(v for k, v in timings.items())
    out = {
        "metric": "index_build_plus_136_query_wall_seconds",
        "value": round(timings["index_build"] + timings["categorise_136_scored_top100"], 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs": n_rows,
        "cpus": n_cpus,
        "index_build_docs_per_sec": round(n_rows / timings["index_build"], 1),
        "categorise_docs_per_sec_bool": round(
            n_rows / timings["categorise_136_bool"], 1
        ),
        "stream_docs_per_sec": stream_rate,
        "query_p50_sec": round(p50, 3),
        "query_p95_sec": round(p95, 3),
        "bool_matches": n_bool,
        "scored_rows": n_scored,
        "host_membw_gbps": {"4": membw_lo, str(n_cpus): membw_hi},
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_after_build": [round(x, 2) for x in load_after_build],
        "total_sec": round(total, 3),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
