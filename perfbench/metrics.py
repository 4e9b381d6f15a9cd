"""End-to-end metrics (from op spans, every run) and per-layer metrics
(from layer spans and Spark jobs, traced runs).  Every workload reports
every name; a layer a workload does not load reports 0."""

from __future__ import annotations

from perfbench.tracing import (
    LAYERS,
    SPARK_LAYERS,
    duration,
    median,
    self_time,
    span_tasks,
    tail,
    task_skew,
)

END_TO_END = {
    "setup_s": "s",
    "index_docs_per_s": "docs/s",
    "categorise_docs_per_s": "docs/s",
    "write_docs_per_s": "docs/s",
    "query_p50_s": "s",
    "index_bytes_per_input_byte": "ratio",
}

SPARK_COUNTERS = {
    "tasks": ("count", lambda t: 1),
    "executor_run_s": ("s", lambda t: t["run"]),
    "executor_cpu_s": ("s", lambda t: t["cpu"]),
    "gc_s": ("s", lambda t: t["gc"]),
    "input_bytes": ("bytes", lambda t: t["input_bytes"]),
    "shuffle_read_bytes": ("bytes", lambda t: t["shuffle_read"]),
    "shuffle_write_bytes": ("bytes", lambda t: t["shuffle_write"]),
    "spill_bytes": ("bytes", lambda t: t["spill"]),
}

PER_LAYER = {
    "index_build.build_s": "s",
    "index_build.staging_s": "s",
    "index_build.doc_stats_s": "s",
    "index_build.dictionary_s": "s",
    "index_build.docmap_s": "s",
    "index_build.postings_s": "s",
    "index_build.postings": "count",
    "index_build.blocks": "count",
    "index_build.terms": "count",
    "index_build.staging_bytes": "bytes",
    "index_build.postings_bytes": "bytes",
    "index_build.postings_task_skew": "ratio",
    "vtokenize.tokens_per_s": "1/s",
    "queryparser.parse_s": "s",
    "search.reader_open_s": "s",
    "search.compile_s": "s",
    "search.compile_hits": "count",
    "search.compile_misses": "count",
    "search.plan_s": "s",
    "search.exec_s": "s",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.input_bytes_per_query": "bytes",
    "search.postings_rows_per_result": "ratio",
    "search.eval_task_skew": "ratio",
    "engine.categorise_all_s": "s",
    "engine.save_results_s": "s",
    "engine.results_buckets_touched": "count",
    "engine.results_bytes_written": "bytes",
    "incremental.categorise_batch_s": "s",
    "incremental.batch_docs_per_s": "docs/s",
    "index_append.append_s": "s",
    "index_append.compact_s": "s",
    "index_append.compactions": "count",
    "index_append.deltas_outstanding": "count",
    "index_append.delta_bytes": "bytes",
    "index_append.compact_bytes_rewritten": "bytes",
    "catalog.manifest_read_s": "s",
    "catalog.index_bytes": "bytes",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{
        f"{layer}.{name}": unit
        for layer in SPARK_LAYERS
        for name, (unit, _) in SPARK_COUNTERS.items()
    },
    "trace.min_span_coverage": "ratio",
    "trace.timed_wall_s": "s",
    "trace.spans": "count",
    "trace.jobs_outside_layer_spans": "count",
}

#: ops whose wall the end-to-end metrics are made of
TIMED_OPS = ("reindex.build", "reindex.categorise", "reindex.scored", "daily.batch", "daily.request")


def end_to_end(run, tr) -> tuple[dict, dict]:
    """(metrics, samples): samples hold every timing's median, tail
    percentile and sample count for the report line."""
    docs = run.facts["docs"]
    if run.workload == "reindex":
        build = [duration(s) for s in tr.ops("reindex.build")]
        cat = [duration(s) for s in tr.ops("reindex.categorise")]
        query = [duration(s) for s in tr.ops("reindex.scored")]
        values = {
            "index_docs_per_s": docs / median(build),
            "categorise_docs_per_s": docs / median(cat),
            "write_docs_per_s": docs / (median(build) + median(cat)),
        }
        samples = {
            "build_s": tail(build), "categorise_s": tail(cat),
            "scored_first_s": tail(duration(s) for s in tr.ops("reindex.scored_first")),
            "scored_top100_s": tail(query),
        }
    else:
        batches = tr.ops("daily.batch")
        query = [duration(s) for s in tr.ops("daily.request")]
        docs = sum(s["docs"] for s in batches)
        values = {
            "index_docs_per_s": docs / sum(s["append_s"] for s in batches),
            "categorise_docs_per_s": docs / sum(s["categorise_s"] for s in batches),
            "write_docs_per_s": docs / sum(duration(s) for s in batches),
        }
        samples = {
            "update_s": tail(duration(s) for s in batches),
            "append_s": tail(s["append_s"] for s in batches),
            "request_s": tail(query),
        }
    values.update(
        setup_s=run.t_timed - run.t_start,
        query_p50_s=median(query),
        index_bytes_per_input_byte=run.facts["index_bytes"] / run.facts["input_bytes"],
    )
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}, samples


def per_layer(run, tr) -> dict:
    spans = tr.spans
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        if s["kind"] == "layer":
            by_name.setdefault(s["name"], []).append(s)

    def walls(name):
        return [duration(s) for s in by_name.get(name, ())]

    v: dict[str, float] = {}
    builds = by_name.get("index_build.build_index", [])
    v["index_build.build_s"] = median(walls("index_build.build_index"))
    for stage, fn in BUILD_STAGES.items():
        v[f"index_build.{stage}_s"] = median(fn(b["manifest"], b["start"]) for b in builds)
    if builds:
        last = builds[-1]
        buckets = last["manifest"]["buckets"].values()
        for k in ("postings", "blocks", "terms"):
            v[f"index_build.{k}"] = sum(int(b.get(k, 0)) for b in buckets)
        v["index_build.staging_bytes"] = last["staging_bytes"]
        v["index_build.postings_bytes"] = last["postings_bytes"]
        v["index_build.postings_task_skew"] = median(postings_skew(b) for b in builds)
    v["vtokenize.tokens_per_s"] = run.facts.get("tokens_per_s", 0.0)
    v["queryparser.parse_s"] = median(walls("queryparser.parse_query"))

    compiles = by_name.get("search.compile", [])
    v["search.reader_open_s"] = median(walls("search.reader_open"))
    v["search.compile_s"] = median(walls("search.compile"))
    v["search.compile_hits"] = sum(bool(s["cache_hit"]) for s in compiles)
    v["search.compile_misses"] = sum(not s["cache_hit"] for s in compiles)
    v["search.plan_s"] = median(walls("search.plan"))
    v["search.exec_s"] = median(walls("search.exec"))
    queries = [s for s in spans if s["kind"] == "op" and s["name"] in ("reindex.scored", "daily.request")]
    per_query = [query_figures(spans, q) for q in queries]
    for k in ("jobs", "tasks", "input_bytes"):
        v[f"search.{k}_per_query"] = median(f[k] for f in per_query)
    v["search.postings_rows_per_result"] = median(
        f["input_records"] / f["rows"] for f in per_query if f["rows"]
    )
    v["search.eval_task_skew"] = median(f["skew"] for f in per_query)

    saves = by_name.get("engine.save_results", [])
    v["engine.categorise_all_s"] = median(walls("engine.categorise_all"))
    v["engine.save_results_s"] = median(walls("engine.save_results"))
    v["engine.results_buckets_touched"] = median(s["buckets_touched"] for s in saves)
    v["engine.results_bytes_written"] = median(s["bytes_written"] for s in saves)

    cb = by_name.get("incremental.categorise_batch", [])
    v["incremental.categorise_batch_s"] = median(walls("incremental.categorise_batch"))
    v["incremental.batch_docs_per_s"] = median(s["docs"] / duration(s) for s in cb)

    compacts = [s for s in by_name.get("index_append.maybe_compact", []) if s["compacted"]]
    batches = tr.ops("daily.batch")
    v["index_append.append_s"] = median(walls("index_append.append_batch"))
    v["index_append.compact_s"] = median(duration(s) for s in compacts)
    v["index_append.compactions"] = len(compacts)
    v["index_append.deltas_outstanding"] = max((s["deltas"] for s in batches), default=0)
    v["index_append.delta_bytes"] = max((s["delta_bytes"] for s in batches), default=0)
    v["index_append.compact_bytes_rewritten"] = median(s["rewritten_bytes"] for s in compacts)

    v["catalog.manifest_read_s"] = median(walls("catalog.manifest"))
    v["catalog.index_bytes"] = run.facts["index_bytes"]

    for layer in LAYERS:
        own = [s for s in spans if s["kind"] == "layer" and s["name"].split(".")[0] == layer]
        v[f"{layer}.self_s"] = sum(self_time(spans, s) for s in own)
        if layer in SPARK_LAYERS:
            tasks = [t for s in own for t in span_tasks(s)]
            for name, (_, get) in SPARK_COUNTERS.items():
                v[f"{layer}.{name}"] = sum(get(t) for t in tasks)

    timed = [s for s in spans if s["kind"] == "op" and s["name"] in TIMED_OPS]
    v["trace.min_span_coverage"] = min((coverage(spans, s) for s in timed), default=0.0)
    v["trace.timed_wall_s"] = sum(duration(s) for s in timed)
    v["trace.spans"] = len(spans)
    v["trace.jobs_outside_layer_spans"] = sum(len(s.get("jobs", ())) for s in timed)
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}


def _stage(m: dict, name: str) -> dict:
    return m["stages"].get(name, {})


#: build stage walls from the manifest written by build_index: staging,
#: dictionary and docmap record their own elapsed_sec; doc_stats and the
#: postings merge are read off commit timestamps (postings ends at its
#: last bucket commit and overlaps dictionary and docmap)
BUILD_STAGES = {
    "staging": lambda m, t0: _stage(m, "staging")["metrics"]["elapsed_sec"],
    "doc_stats": lambda m, t0: _stage(m, "doc_stats")["ts"] - _stage(m, "docs")["ts"],
    "dictionary": lambda m, t0: _stage(m, "dictionary")["metrics"]["elapsed_sec"],
    "docmap": lambda m, t0: _stage(m, "docmap")["metrics"]["elapsed_sec"],
    "postings": lambda m, t0: max(float(b["ts"]) for b in m["buckets"].values()) - _stage(m, "doc_stats")["ts"],
}


def postings_skew(build: dict) -> float:
    """Task skew of the jobs submitted after doc_stats committed: the
    postings merge (with the overlapped dictionary and docmap jobs)."""
    after = _stage(build["manifest"], "doc_stats")["ts"]
    return task_skew([t for j in build.get("jobs", ()) if j["submit"] >= after for t in j["tasks"]])


def query_figures(spans: list[dict], q: dict) -> dict:
    kids = [s for s in spans if s["parent"] == q["id"]]
    tasks = [t for s in kids for t in span_tasks(s)]
    execs = [s for s in kids if s["name"] == "search.exec"]
    return {
        "jobs": sum(len(s.get("jobs", ())) for s in kids),
        "tasks": len(tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
        "input_records": sum(t["input_records"] for t in tasks),
        "rows": sum(s.get("rows", 0) for s in execs),
        "skew": task_skew([t for s in execs for t in span_tasks(s)]),
    }


def coverage(spans: list[dict], op: dict) -> float:
    kids = [s for s in spans if s["parent"] == op["id"]]
    return sum(duration(s) for s in kids) / duration(op)
