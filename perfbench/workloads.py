"""The two workloads: inputs made from the seed, the timed operations,
and the correctness gate that follows them.

``reindex``       the full-reindex batch: build the index, categorise
                  every doc with the 136 category queries and upsert the
                  results, then run the 136 queries scored top-100, once
                  to warm up and then ``scored_passes`` timed times.
``daily_update``  the daily-update stream against an index built in
                  set-up: micro-batches of new and re-ingested docs go
                  through categorise_batch -> save_results -> append_docs
                  (auto-compaction on); between two batches, two
                  closed-loop clients send search-API probes against
                  the live index, over the deltas appended so far.

The search API has no workload of its own: a run pays about 30 s of
Spark start, corpus and index set-up before its first timed operation,
and a third workload's 22 runs would not fit the benchmark's time
budget.  Its closed loop runs between the daily batches instead, where
reads meet fresh deltas.
"""

from __future__ import annotations

import hashlib
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import ChunkTokenizer
from ds_discovery_opensearch_taxonomy_spark.operators.index_append import append_batch
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.search import compile_queries
from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    STRESS_FRAGMENTS,
    load_categories,
    query_vocabulary,
    synthesize_corpus,
    with_doc_ids,
)
from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import categorise_batch

from perfbench import gate

SIZES = {
    "full": {
        "reindex_docs": 800,
        "update_index_docs": 450,
        "batch_docs": 90,
        "reingest_share": 0.5,
        "min_batches": 2,
        "scored_passes": 4,
        "oracle_docs": 8,
        "batch_check_docs": 200,
        "clients": 2,
    },
    "smoke": {
        "reindex_docs": 300,
        "update_index_docs": 300,
        "batch_docs": 75,
        "reingest_share": 0.5,
        "min_batches": 2,
        "scored_passes": 2,
        "oracle_docs": 4,
        "batch_check_docs": 100,
        "clients": 2,
    },
}
#: bench.py's corpus generator settings: 50-450 words a doc, 7 of 10 word
#: slots drawn from a heavy-tailed identifier vocabulary
WORDS = {"min_words": 50, "max_words": 450, "identifier_rate": 7}
TOP_K = 100
#: a workload's docs are drawn from a synthesized range this many times
#: their number, so two seeds share about 1/POOL_FACTOR of their docs
POOL_FACTOR = 8
#: daily_update draws new docs for at most this many batches
MAX_BATCHES = 4
#: index layout, fixed so every host builds the same index
CONFIG = EngineConfig(n_term_buckets=8, n_eval_bands=4, build_parallelism=4)
RAW_COLUMNS = [
    "repo", "path", "commit", "lang", "content",
    "NUM_START_DATE", "NUM_END_DATE", "SOURCE",
]
INDEX_TABLES = (
    IndexCatalog.POSTINGS, IndexCatalog.DICTIONARY, IndexCatalog.DOCMAP,
    IndexCatalog.DOCS, IndexCatalog.DELTA_BLOCKS, IndexCatalog.DELTA_DICTIONARY,
    IndexCatalog.DELTA_DOCMAP, IndexCatalog.DELTA_DOCS,
)


@dataclass
class Run:
    spark: object
    tr: object
    work: Path
    workload: str
    seed: int
    size_name: str
    seconds: float
    t_start: float
    corrupt: bool = False
    size: dict = field(default_factory=dict)
    rng: np.random.Generator | None = None
    t_timed: float | None = None
    checks: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    schema: object = None

    def __post_init__(self):
        self.size = SIZES[self.size_name]
        self.rng = np.random.default_rng(self.seed)

    def start_timing(self) -> None:
        self.t_timed = time.time()

    def timed_for(self) -> float:
        return time.time() - self.t_timed

    def check(self, result) -> None:
        if result is not None:
            self.checks.append(result)


# -- inputs ---------------------------------------------------------------------


def make_pool(run: Run, n: int):
    """n docs of a synthesized range POOL_FACTOR * n long: row 0 (the
    reference's AIR 37/177 test doc) first, then n - 1 rows the seed
    picks, in seeded order.  Rows are selected by their commit, sha1 of
    "c<row>", so only the picked rows reach the driver."""
    ids = np.concatenate([[0], run.rng.choice(np.arange(1, POOL_FACTOR * n), n - 1, replace=False)])
    commits = [hashlib.sha1(f"c{i}".encode()).hexdigest() for i in ids]
    df = synthesize_corpus(run.spark, POOL_FACTOR * n, num_partitions=8, **WORDS)
    run.schema = df.schema
    pdf = df.where(F.col("commit").isin(commits)).toPandas()
    return pdf.set_index("commit", drop=False).loc[commits].reset_index(drop=True)


def table(run: Run, pdf):
    df = run.spark.createDataFrame(pdf[RAW_COLUMNS].reset_index(drop=True), schema=run.schema)
    return with_doc_ids(df)


def write_table(run: Run, pdf, name: str):
    """The corpus as the engine reads it in production: a parquet table."""
    path = str(run.work / name)
    table(run, pdf).write.parquet(path)
    return run.spark.read.parquet(path)


def content_bytes(pdf) -> int:
    return int(pdf["content"].map(lambda s: len(s.encode())).sum())


def query_texts() -> list[str]:
    """The 136 category queries plus 60 ad-hoc phrase, bool, wildcard,
    range, fuzzy and plain search-API queries: the texts whose parse time
    the traced run measures."""
    vocab = [w for w in query_vocabulary() if len(w) >= 5][:40]
    phrases = [f.lower() for f in STRESS_FRAGMENTS if " " in f and f.replace(" ", "").isalpha()]
    texts = [c["query_text"] for c in load_categories()]
    for i in range(10):
        a, b, c = vocab[i], vocab[i + 10], vocab[i + 20]
        texts += [
            f'"{phrases[i % len(phrases)]}"',
            f"{a} AND ({b} OR {c}) NOT {vocab[i + 30]}",
            f"{a[:4]}*",
            f"NUM_START_DATE:[{1900 + 9 * i}0101 TO {1910 + 9 * i}1231]",
            f"{b}~1",
            f"{c} OR {a}",
        ]
    return texts


# -- layer calls --------------------------------------------------------------------


def read_manifest(run: Run, root: str, into: dict | None = None) -> dict:
    """Manifest read after a call (traced runs): attached to the span."""
    if not run.tr.traced:
        return {}
    with run.tr.span("catalog.manifest"):
        m = IndexCatalog(root).manifest()
    if into is not None:
        into["manifest"] = m
    return m


def build(run: Run, corpus, name: str, op: str) -> TaxonomyEngine:
    """TaxonomyEngine.build(..., resume=False); traced runs make the same
    three calls one by one so each gets its own span."""
    root = str(run.work / name)
    with run.tr.op(op):
        if not run.tr.traced:
            return TaxonomyEngine.build(run.spark, corpus, root, CONFIG, resume=False)
        with run.tr.span("index_build.build_index") as s:
            build_index(run.spark, corpus, root, CONFIG, resume=False)
        read_manifest(run, root, s)
        with run.tr.span("catalog.table_bytes"):
            cat = IndexCatalog(root)
            s["staging_bytes"] = cat.table_bytes(IndexCatalog.STAGING)
            s["postings_bytes"] = cat.table_bytes(IndexCatalog.POSTINGS)
        with run.tr.span("search.reader_open"):
            engine = TaxonomyEngine(run.spark, root, CONFIG)
        with run.tr.span("catalog.seed_categories"):
            engine.category_store.seed(load_categories())
        return engine


def note_results(run: Run, engine: TaxonomyEngine, save: dict) -> None:
    """Buckets and bytes the last save_results wrote (traced runs)."""
    if not run.tr.traced:
        return
    with run.tr.span("catalog.results_snapshot"):
        m = engine.reader.cat.manifest()
        snap = int(m.get("results_snapshot", 0))
        save["buckets_touched"] = sum(int(v) == snap for v in m.get("results_buckets", {}).values())
        d = Path(engine.reader.cat.root) / IndexCatalog.RESULTS_PARTS / f"v{snap}"
        save["bytes_written"] = sum(f.stat().st_size for f in d.rglob("*.parquet"))


def compile_span(tr, engine: TaxonomyEngine, pairs) -> None:
    """Traced runs compile ahead of the call so compile time, and whether
    the reader's compile cache held the queries, are seen on their own."""
    if not tr.traced:
        return
    reader = engine.reader
    hit = (tuple(pairs), reader.config) in reader.compile_cache
    with tr.span("search.compile", cache_hit=hit):
        compile_queries(reader, pairs, reader.config)


def index_bytes(root: str) -> int:
    cat = IndexCatalog(root)
    return sum(cat.table_bytes(t) for t in INDEX_TABLES)


def layer_samples(run: Run, corpus_pdf) -> None:
    """Driver-side layer probes of a traced run: tokenizer throughput over
    a fixed sample of corpus rows, and parse time of every query text."""
    if not run.tr.traced:
        return
    sample = corpus_pdf.head(256)
    columns = {c: sample[c].tolist() for c in ("content", "path")}
    specs = [(f.name, f.analyzer, list(f.source_columns)) for f in CONFIG.fields]
    rates = []
    for _ in range(3):
        with run.tr.span("vtokenize.tokenize") as s:
            out = ChunkTokenizer(specs).tokenize(columns, np.arange(len(sample), dtype=np.int64))
        s["tokens"] = int(sum(int(r["tf"].sum()) for r in out))
        rates.append(s["tokens"] / (s["end"] - s["start"]))
    run.facts["tokens_per_s"] = float(np.median(rates))
    texts = query_texts()
    for _ in range(3):
        with run.tr.span("queryparser.parse_query", queries=len(texts)):
            for t in texts:
                parse_query(t, CONFIG)


# -- reindex ------------------------------------------------------------------------


def reindex(run: Run) -> None:
    n = run.size["reindex_docs"]
    corpus_pdf = make_pool(run, n)
    corpus = write_table(run, corpus_pdf, "corpus")
    run.facts.update(docs=n, input_bytes=content_bytes(corpus_pdf))
    layer_samples(run, corpus_pdf)

    run.start_timing()
    engine = build(run, corpus, "index", "reindex.build")
    pairs = [(c["category_id"], c["query_text"]) for c in engine.categories()]
    with run.tr.op("reindex.categorise"):
        compile_span(run.tr, engine, pairs)
        with run.tr.span("engine.categorise_all"):
            per_doc = engine.categorise_all().persist()
            per_doc.count()
        with run.tr.span("engine.save_results") as save:
            engine.save_results(per_doc)
        per_doc.unpersist()
        note_results(run, engine, save)
    # the first scored pass pays the scored path's one-time JVM and Python
    # worker warm-up and is reported apart; query_p50_s is the median of
    # the passes after it, so one slow pass does not set it
    answers = set()
    for i in range(1 + run.size["scored_passes"]):
        with run.tr.op("reindex.scored" if i else "reindex.scored_first"):
            compile_span(run.tr, engine, pairs)
            with run.tr.span("search.plan"):
                df = engine.run_queries(scored=True, top_k=TOP_K)
            with run.tr.span("search.exec") as s:
                scored = df.collect()
            s["rows"] = len(scored)
        answers.add(frozenset((r["category_id"], int(r["doc_id"])) for r in scored))
    run.facts["index_bytes"] = index_bytes(str(run.work / "index"))

    # -- correctness gate: every scored pass gave the same answer, the
    # saved results against the micro-batch path over a seeded sample of
    # the corpus, the scored pass against the bool sets, a sample against
    # the single-doc oracle, and the whole result set against pinned
    # figures where a seed has them
    run.check(("scored_passes_agree", len(answers) == 1, f"{len(answers)} distinct answers"))
    rows = sorted((r.asDict() for r in corpus.collect()), key=lambda r: r["doc_id"])
    saved = gate.per_doc(engine.results().collect())
    check = np.sort(run.rng.choice(n, min(run.size["batch_check_docs"], n), replace=False))
    batch = gate.per_doc(categorise_batch(engine, table(run, corpus_pdf.iloc[check])).collect())
    if run.corrupt:
        saved = corrupt(saved)
    run.check(gate.same_categories("results_vs_batch_path", {d: saved.get(d) for d in batch}, batch))
    run.check(gate.scored_within_bool(saved, scored, TOP_K))
    run.check(gate.oracle_sample(engine, sample_rows(run, rows), saved, score_map(scored)))
    air_id = next(c["category_id"] for c in engine.categories() if c["title"] == "Air Force")
    air_doc = next(r["doc_id"] for r in rows if r["commit"] == corpus_pdf["commit"][0])
    run.check(("air_force_doc", air_id in saved.get(air_doc, ()), "reference test doc"))
    n_bool = sum(len(v) for v in saved.values())
    run.facts.update(bool_matches=n_bool, scored_rows=len(scored), results_sha=gate.results_sha(saved))
    run.check(gate.pinned((run.size_name, "reindex", run.seed), n_bool, len(scored), run.facts["results_sha"]))


def corrupt(cats: dict) -> dict:
    """Drop one category from one doc (smoke mode's negative check)."""
    out = dict(cats)
    doc = next(d for d in sorted(out) if out[d])
    out[doc] = out[doc][1:]
    return out


def sample_rows(run: Run, rows: list[dict]) -> list[dict]:
    idx = run.rng.choice(len(rows), min(run.size["oracle_docs"], len(rows)), replace=False)
    return [rows[i] for i in sorted(idx)]


def score_map(scored) -> dict:
    return {(r["category_id"], int(r["doc_id"])): r["score"] for r in scored}


# -- daily_update ---------------------------------------------------------------------


#: the search-API requests each client sends between batches, in order,
#: as (kind, text, options): a filtered phrase-or-wildcard search, a
#: phrase-or-term search and range facets.  Fixed across seeds (the seed
#: changes the index they read), so a run's latency median does not
#: hinge on which queries a seed drew; the second client repeats the first
#: one's requests a step behind, so a burst has compile-cache misses and
#: hits.
PROBES = (
    ("search", '"votes for women" OR suffrag*', {"filters": {"lang": ["python", "md"]}}),
    ("search", '"air force" OR "royal air force" OR raf', {}),
    ("facets", "NUM_START_DATE:[19000101 TO 19501231]", {}),
)


def daily_update(run: Run) -> None:
    n = run.size["update_index_docs"]
    size = run.size["batch_docs"]
    n_new = size - int(round(size * run.size["reingest_share"]))
    pool_pdf = make_pool(run, n + MAX_BATCHES * n_new)
    corpus_pdf = pool_pdf.iloc[:n]
    corpus = write_table(run, corpus_pdf, "corpus")
    #: pool rows not yet indexed, in the seeded order they arrive as new docs
    unseen = list(range(len(pool_pdf) - 1, n - 1, -1))
    live = corpus_pdf.set_index("commit", drop=False)
    layer_samples(run, corpus_pdf)
    engine = build(run, corpus, "index", "setup.build")
    # warm-up, untimed: the Python workers and JIT reach the batch and
    # query paths once before the first timed batch
    categorise_batch(engine, table(run, corpus_pdf.head(20))).collect()
    compactions = 0
    signatures: dict[tuple[int, int], list] = {}

    run.start_timing()
    b = 0
    while True:
        batch_pdf = next_batch(run, pool_pdf, live, unseen, size, n_new)
        batch_df = table(run, batch_pdf)
        live = pd.concat([
            live[~live.index.isin(batch_pdf["commit"])],
            batch_pdf.set_index("commit", drop=False),
        ])
        applied = update(run, engine, batch_df, len(batch_pdf), f"day-{run.seed}-{b}")
        compactions += bool(applied and "compacted" in applied)
        b += 1
        if len(unseen) < n_new or (b >= run.size["min_batches"] and run.timed_for() >= run.seconds):
            break
        # the search API between batches: it reads over the deltas so far
        burst(run, engine, b, signatures)
    root = str(engine.reader.cat.root)
    run.facts.update(
        docs=len(live), input_bytes=content_bytes(live), index_bytes=index_bytes(root),
        compactions=compactions, batches=b,
    )

    # -- correctness gate: every doc a batch upserted must carry the same
    # categories in the results table (written from the micro-batch path)
    # as the live index gives it after appends, tombstones and compaction
    # (a superseded version still in the index would add its categories to
    # the doc's, since a re-ingested doc keeps its doc_id); a sample of
    # live docs must match the single-doc oracle; and one request sent
    # twice against the same index state must get the same answer,
    # whichever client sent it
    live_df = table(run, live)
    rows = sorted((r.asDict() for r in live_df.collect()), key=lambda r: r["doc_id"])
    scored = engine.run_queries(scored=True).collect()
    got = {r["doc_id"]: () for r in rows}
    for r in scored:
        got[int(r["doc_id"])] = got.get(int(r["doc_id"]), ()) + (r["category_id"],)
    got = {d: tuple(sorted(c)) for d, c in got.items()}
    saved = gate.per_doc(engine.results().collect())
    if run.corrupt:
        saved = corrupt(saved)
    run.check(gate.same_categories("results_vs_live_index", saved, {d: got.get(d) for d in saved}))
    run.check(gate.oracle_sample(engine, sample_rows(run, rows), got, score_map(scored)))
    run.check(gate.same_signatures(signatures))


def next_batch(run: Run, pool_pdf, live, unseen: list, size: int, n_new: int):
    """New docs from the unseen pool plus re-ingested live docs that carry
    another pool doc's content; no doc twice in one batch."""
    new = pool_pdf.iloc[[unseen.pop() for _ in range(n_new)]]
    again = live.iloc[run.rng.choice(len(live), size - n_new, replace=False)].copy()
    again["content"] = pool_pdf["content"].values[run.rng.choice(len(pool_pdf), len(again), replace=False)]
    out = pd.concat([new, again.reset_index(drop=True)], ignore_index=True)
    return out.iloc[run.rng.permutation(len(out))].reset_index(drop=True)


def update(run: Run, engine: TaxonomyEngine, batch_df, docs: int, key: str) -> dict | None:
    """One micro-batch: categorise_batch -> save_results -> append_docs
    (auto-compaction on).  Traced runs make append_docs' calls one by one:
    append_batch, refresh, maybe_compact."""
    with run.tr.op("daily.batch", docs=docs) as op:
        t0 = time.time()
        with run.tr.span("incremental.categorise_batch", docs=docs):
            per_doc = categorise_batch(engine, batch_df).persist()
            per_doc.count()
        with run.tr.span("engine.save_results") as save:
            engine.save_results(per_doc)
        per_doc.unpersist()
        note_results(run, engine, save)
        t1 = time.time()
        if not run.tr.traced:
            applied = engine.append_docs(batch_df, batch_key=key)
        else:
            with run.tr.span("index_append.append_batch"):
                applied = append_batch(run.spark, engine.reader.cat, engine.config, batch_df, key)
            if applied is not None:
                with run.tr.span("search.reader_open"):
                    engine.refresh()
                read_manifest(run, str(engine.reader.cat.root))
                with run.tr.span("index_append.maybe_compact") as s:
                    compacted = engine.maybe_compact()
                s["compacted"] = compacted is not None
                if compacted:
                    applied = {**applied, "compacted": compacted}
                    with run.tr.span("catalog.table_bytes"):
                        cat = engine.reader.cat
                        s["rewritten_bytes"] = sum(cat.table_bytes(t) for t in INDEX_TABLES[:4])
        op.update(categorise_s=t1 - t0, append_s=time.time() - t1)
    deltas = engine.reader.cat.deltas()
    op.update(deltas=len(deltas), delta_bytes=sum(int(d.get("bytes") or 0) for d in deltas.values()))
    return applied


def call(engine: TaxonomyEngine, req: tuple[str, str, dict], tr) -> tuple:
    """Send one search-API request and return its answer as a hashable
    signature.  Traced runs split the call into compile (done first, so
    compile time and cache hits show on their own), plan (the engine call
    that returns a DataFrame) and exec (its action)."""
    kind, text, opts = req
    compile_span(tr, engine, [("__f" if kind == "facets" else "__q", text)])
    with tr.span("search.plan"):
        if kind == "facets":
            df = engine.facets("lang", limit=10, query_text=text)
        else:
            df = engine.search(text, limit=10, **opts)
    with tr.span("search.exec") as s:
        rows = df.collect()
    s["rows"] = len(rows)
    return tuple(tuple(r) for r in rows)


def burst(run: Run, engine: TaxonomyEngine, batch: int, signatures: dict) -> None:
    """The search API between batches: a closed loop of ``clients``
    threads, each sending PROBES in order, the next when the previous one
    returns.  The other clients start once the first request on the
    refreshed reader has returned, so its lazily opened tables are opened
    once."""
    first_done = threading.Event()
    failures: list[BaseException] = []

    def client(c: int) -> None:
        if c:
            first_done.wait()
        try:
            for i, req in enumerate(PROBES):
                with run.tr.op("daily.request", client=c, request=i, request_kind=req[0]):
                    sig = call(engine, req, run.tr)
                signatures.setdefault((batch, i), []).append(sig)
                first_done.set()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            failures.append(e)
            first_done.set()

    threads = [threading.Thread(target=client, args=(c,)) for c in range(run.size["clients"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if failures:
        raise failures[0]
