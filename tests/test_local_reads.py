"""The driver fetcher against the Spark fetcher: one eval kernel, two ways
to fetch its blocks.  A small index is served in the driver from its
snapshot (pyarrow reads, no Spark job); every answer must equal the Spark
plan's bit for bit, over an index with two appended batches, tombstones
and null metadata included."""

import threading
import time

import pytest
from pyspark.sql import functions as F

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators import search
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.search import (
    IndexReader,
    run_categories,
)
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    load_categories,
    synthesize_corpus,
    with_doc_ids,
)
from perfbench.workloads import PROBES, query_texts

TEST_CONFIG = EngineConfig(
    n_term_buckets=4,
    salt_target_postings=64,
    max_salts=8,
    n_eval_bands=2,
)


def _adhoc() -> list[str]:
    """query_texts()' 60 ad-hoc texts: six kinds (phrase, bool, wildcard,
    range, fuzzy, plain) in turn, ten times."""
    return query_texts()[len(load_categories()):]


def _last_job(spark) -> int:
    """The newest Spark job id (ids grow; the tracker keeps a bounded
    number of jobs, so counting them would saturate)."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    """A 300-doc build plus two appended batches: batch 1 adds 50 docs
    and re-ingests 20 (two new ones carry a null SOURCE, one of them a
    null path too), batch 2 adds 30 and re-ingests 10 other docs of batch
    1."""
    out = str(tmp_path_factory.mktemp("local_reads"))
    base = with_doc_ids(synthesize_corpus(spark, 300))
    full = with_doc_ids(synthesize_corpus(spark, 380))
    build_index(spark, base, out, TEST_CONFIG)
    eng = TaxonomyEngine(spark, out, TEST_CONFIG)
    new = full.join(base.select("doc_id"), "doc_id", "left_anti").orderBy("doc_id")
    new_pd = new.toPandas()

    def edit(df, words: str):
        return df.withColumn(
            "content", F.concat_ws(" ", "content", F.lit(words))
        ).withColumn("content_sha", F.sha2(F.col("content"), 256))

    again = edit(base.orderBy("doc_id").limit(20), "suffragette votes air force")
    nulls = [int(d) for d in new_pd["doc_id"][:2]]
    b1 = (
        new.limit(50)
        .unionByName(again)
        .withColumn(
            "SOURCE",
            F.when(F.col("doc_id").isin(nulls), F.lit(None).cast("int")).otherwise(
                F.col("SOURCE")
            ),
        )
        .withColumn(
            "path",
            F.when(F.col("doc_id") == nulls[0], F.lit(None).cast("string")).otherwise(
                F.col("path")
            ),
        )
    )
    assert eng.append_docs(b1, batch_key="b1", auto_compact=False)
    b1_ids = [int(d) for d in new_pd["doc_id"][10:20]]
    b1_new = [int(d) for d in new_pd["doc_id"][:50]]
    b2 = new.where(~F.col("doc_id").isin(b1_new)).unionByName(
        edit(full.where(F.col("doc_id").isin(b1_ids)), "rationing chartism")
    )
    assert eng.append_docs(b2, batch_key="b2", auto_compact=False)
    assert len(eng.reader.cat.deltas()) == 2
    return out


def _engine(spark, index, monkeypatch, fetcher: str) -> TaxonomyEngine:
    """A fresh engine whose calls take one fetcher: the Spark one also
    compiles without the snapshot, so its lookups are Spark's too."""
    if fetcher == "spark":
        monkeypatch.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", -1)
        monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", -1)
    else:
        monkeypatch.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", 1 << 62)
        monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", 1 << 62)
    eng = TaxonomyEngine(spark, index, TEST_CONFIG)
    assert (eng.reader.snapshot() is None) == (fetcher == "spark")
    return eng


def _both(spark, index, monkeypatch, answer):
    """``answer(engine)`` under the Spark fetcher, then the driver one."""
    out = []
    for fetcher in ("spark", "local"):
        eng = _engine(spark, index, monkeypatch, fetcher)
        out.append(answer(eng))
    return out


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "scored,top_k", [(False, None), (True, None), (True, 1), (True, 5), (True, 100)]
)
def test_categories_same_rows(spark, index, monkeypatch, scored, top_k):
    """All 136 categories: every (category, doc, score) row equal."""
    pairs = [(c["category_id"], c["query_text"]) for c in load_categories()]
    want, got = _both(spark, index, monkeypatch, lambda eng: _rows(
        run_categories(spark, eng.reader, pairs, scored=scored, top_k=top_k)
    ))
    assert len({c for c, _, _ in want}) > 50  # most categories match
    assert got == want


@pytest.mark.parametrize("scored,top_k", [(False, None), (True, None), (True, 10)])
def test_adhoc_texts_same_rows(spark, index, monkeypatch, scored, top_k):
    """The 60 ad-hoc search texts and the probes, as one batch."""
    texts = _adhoc() + [t for _, t, _ in PROBES]
    pairs = [(f"q{i:02d}", t) for i, t in enumerate(texts)]
    want, got = _both(spark, index, monkeypatch, lambda eng: _rows(
        run_categories(spark, eng.reader, pairs, scored=scored, top_k=top_k)
    ))
    assert {c for c, _, _ in want} >= {f"q{i:02d}" for i in range(0, 60, 6)}
    assert got == want


def test_api_same_answers(spark, index, monkeypatch):
    """search (plain; with filters, min_score and offset), count and
    facets, over the probes and two ad-hoc texts of each kind, plus
    facets over every live doc on a column with nulls."""
    adhoc = _adhoc()
    texts = [t for _, t, _ in PROBES] + adhoc[:6] + adhoc[30:36]

    def answer(eng):
        out = []
        for t in texts:
            out.append([tuple(r) for r in eng.search(t, limit=10).collect()])
            out.append([tuple(r) for r in eng.search(
                t, min_score=0.5, limit=5, offset=2,
                filters={"lang": ["python", "md"]},
            ).collect()])
            out.append(eng.count(t))
            out.append([tuple(r) for r in eng.facets("lang", 10, t).collect()])
        for _, t, opts in PROBES:
            out.append([tuple(r) for r in eng.search(t, limit=10, **opts).collect()])
        out.append([tuple(r) for r in eng.facets("SOURCE", 500).collect()])
        out.append([tuple(r) for r in eng.facets("SOURCE", 500, "women OR air").collect()])
        out.append([tuple(r) for r in eng.facets("NUM_START_DATE", 7).collect()])
        return out

    want, got = _both(spark, index, monkeypatch, answer)
    assert any(want[: 4 * len(texts) : 4])  # some searches match
    assert None in [v for v, _ in want[-3]]  # the null SOURCE group
    assert got == want


def test_metadata_clauses_coerce_as_spark(spark, index, monkeypatch):
    """Metadata clauses match as Spark evaluates them on both fetchers:
    string filter values on an int column cast to int (leading zero and
    padding included), and an ``id:`` ref skips a null path as
    ``concat_ws`` does."""
    rows = IndexReader(spark, index, TEST_CONFIG).docs().select(
        "repo", "path", "commit", "SOURCE"
    ).collect()
    no_path = [r for r in rows if r["path"] is None]
    assert len(no_path) == 1
    ref = f"{no_path[0]['repo']}/{no_path[0]['commit']}".lower()
    sources = sorted({r["SOURCE"] for r in rows if r["SOURCE"] is not None})
    values = [str(sources[0]), f"0{sources[1]}", f" {sources[2]} "]

    def answer(eng):
        return [
            [tuple(r) for r in eng.search("", limit=500, filters={"SOURCE": values}).collect()],
            [tuple(r) for r in eng.search(
                "women OR air", limit=500, filters={"SOURCE": values[:1]}
            ).collect()],
            [tuple(r) for r in eng.search(f"id:{ref}", limit=10).collect()],
            eng.count(f"id:{ref} OR women"),
        ]

    want, got = _both(spark, index, monkeypatch, answer)
    assert len(want[0]) >= 3  # every value matched a doc
    assert len(want[2]) == 1  # the null-path doc
    assert got == want


def test_reader_open_runs_no_spark_job(spark, index):
    before = _last_job(spark)
    reader = IndexReader(spark, index, TEST_CONFIG)
    assert _last_job(spark) == before
    assert reader.n_docs > 0 and reader.avgdl


def test_api_calls_run_no_spark_job(spark, index):
    """On a small index with deltas, a cold search, count and facets after
    refresh() start no Spark job, and neither do warm ones."""
    eng = TaxonomyEngine(spark, index, TEST_CONFIG)
    for _ in range(2):
        eng.refresh()
        for _ in range(2):  # cold, then warm
            before = _last_job(spark)
            for _, text, opts in PROBES:
                eng.search(text, limit=10, **opts).collect()
            assert eng.count("women OR suffrage") > 0
            eng.facets("lang", 10, "NUM_START_DATE:[19000101 TO 19501231]").collect()
            eng.facets("SOURCE", 10).collect()
            assert _last_job(spark) == before


def test_stream_payload_runs_no_spark_job(spark, index, monkeypatch):
    """The stream's micro-batch payload is the parsed category trees: a
    batch compiles them against its own vocabulary, so building the
    payload reads nothing of the index, even one too big for a driver
    snapshot, whose compile would take dictionary jobs."""
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        _batch_payload,
    )

    monkeypatch.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", -1)
    eng = TaxonomyEngine(spark, index, TEST_CONFIG)
    pairs = eng._category_pairs()  # the category store read is not the payload's
    before = _last_job(spark)
    payload = _batch_payload(eng)
    assert _last_job(spark) == before
    assert eng.reader.snapshot() is None
    parsed, config = payload.value
    assert config == TEST_CONFIG
    assert parsed == {cid: parse_query(q, TEST_CONFIG) for cid, q in pairs}
    payload.unpersist()


def test_concurrent_first_requests_load_snapshot_once(spark, index, monkeypatch):
    """Two threads searching a fresh reader load its snapshot once and
    get the same answer."""
    load = search.DriverSnapshot.load
    loads = []

    def slow_load(paths, seqs):
        loads.append(1)
        time.sleep(0.3)  # widen the window a second loader would race in
        return load(paths, seqs)

    monkeypatch.setattr(search.DriverSnapshot, "load", staticmethod(slow_load))
    eng = TaxonomyEngine(spark, index, TEST_CONFIG)
    text, opts = PROBES[0][1], PROBES[0][2]
    barrier = threading.Barrier(2)
    answers = [None, None]

    def client(i):
        barrier.wait()
        answers[i] = [tuple(r) for r in eng.search(text, limit=10, **opts).collect()]

    threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(loads) == 1
    assert answers[0] is not None and answers[0] == answers[1]
