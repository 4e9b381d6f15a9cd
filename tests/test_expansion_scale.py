"""Distributed dictionary expansion at vocabulary scale: a wildcard
matching 100,000 vocabulary terms must evaluate WITHOUT collecting the
matching terms to the driver (VERDICT r2 item 2 — the round-2 design's
expansion collect was the last 100x scale-killer)."""

import pytest
from pyspark.sql import functions as F

from ds_discovery_opensearch_taxonomy_spark.config import (
    TEXT_NO_CAS_NO_PUNC,
    EngineConfig,
    FieldSpec,
)
from ds_discovery_opensearch_taxonomy_spark.operators import search
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.search import (
    IndexReader,
    run_categories,
)
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp

N_DOCS = 3125
TERMS_PER_DOC = 32  # => 100,000 globally-unique terms, all matching x*

CONFIG = EngineConfig(
    fields=(FieldSpec(TEXT_NO_CAS_NO_PUNC, TEXT_NO_CAS_NO_PUNC, ("content",)),),
    n_term_buckets=4,
    n_eval_bands=2,
)


@pytest.fixture(autouse=True)
def spark_fetcher(monkeypatch):
    """These tests read the distributed expansion's state
    (``reader.expansion_cache``), which only a reader without a driver
    snapshot builds: keep every reader here off the snapshot (the cap
    test turns it back on for its second half)."""
    monkeypatch.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", -1)


@pytest.fixture(scope="module")
def big_vocab(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("bigvocab")
    base = F.col("id") * TERMS_PER_DOC
    content = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(TERMS_PER_DOC - 1)),
            lambda k: F.concat(F.lit("x"), (base + k).cast("string")),
        ),
        " ",
    )
    corpus = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("r"), F.col("id") % 7).alias("repo"),
        F.concat(F.lit("p/"), F.col("id")).alias("path"),
        F.sha1(F.col("id").cast("string")).alias("commit"),
        F.lit("py").alias("lang"),
        content.alias("content"),
    )
    build_index(spark, corpus, str(out), CONFIG)
    return IndexReader(spark, str(out), CONFIG)


def test_wildcard_100k_terms_no_driver_collect(big_vocab, spark):
    reader = big_vocab
    res = run_categories(
        spark, reader, [("W", "x*")], scored=False
    ).collect()
    assert len(res) == N_DOCS  # every doc holds matching terms
    node = qp.WildcardNode(TEXT_NO_CAS_NO_PUNC, "x*")
    info = reader.expansion_cache[repr(node)]
    # the driver saw only the bounded stats, and the expansion really was
    # the full >=100k-term vocabulary (the analyzer may emit a couple of
    # extra token forms on top of the synthetic x<N> terms)
    assert info.n_terms >= N_DOCS * TERMS_PER_DOC
    assert 1 <= len(info.buckets) <= CONFIG.n_term_buckets


def test_wildcard_mixed_with_scoring(big_vocab, spark):
    """Constant-score wildcard + scored exact term in one bool query over
    the same index (exercises merged routing rows: a term that is both
    exact and a construct member ships once)."""
    reader = big_vocab
    res = run_categories(
        spark, reader, [("M", '"x0" AND x0*')], scored=True
    ).collect()
    # x0 occurs only in doc 0; x0* matches x0, x0xx... within doc ranges
    assert [r["doc_id"] for r in res] == [0]
    assert res[0]["score"] > 1.0  # BM25(x0) + constant 1.0


def test_expansion_cap_truncates_deterministically(spark, tmp_path, monkeypatch, caplog):
    """``max_term_expansions`` keeps the first terms by term_id, logs the
    truncation and is deterministic — in the distributed expansion and in
    a driver snapshot's, which keep the same terms and match the same
    docs."""
    import dataclasses
    import logging

    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import term_id_of
    from ds_discovery_opensearch_taxonomy_spark.operators.search import compile_queries

    base = F.col("id") * 8
    content = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda k: F.concat(F.lit("y"), (base + k).cast("string")),
        ),
        " ",
    )
    corpus = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("r").alias("repo"),
        F.concat(F.lit("p/"), F.col("id")).alias("path"),
        F.sha1(F.col("id").cast("string")).alias("commit"),
        F.lit("py").alias("lang"),
        content.alias("content"),
    )
    capped = dataclasses.replace(CONFIG, max_term_expansions=100)
    build_index(spark, corpus, str(tmp_path / "idx"), capped)
    caplog.set_level(logging.WARNING, logger=search.__name__)
    reader = IndexReader(spark, str(tmp_path / "idx"), capped)
    res = run_categories(spark, reader, [("Y", "y*")], scored=False).collect()
    node = qp.WildcardNode(TEXT_NO_CAS_NO_PUNC, "y*")
    info = reader.expansion_cache[repr(node)]
    assert info.n_terms == 100  # capped (800 would match)
    assert 0 < len(res) < 100  # some docs dropped by the truncation
    assert "expansion truncated at 100 terms" in caplog.text
    # deterministic: a second compile on a fresh reader agrees
    reader2 = IndexReader(spark, str(tmp_path / "idx"), capped)
    res2 = run_categories(spark, reader2, [("Y", "y*")], scored=False).collect()
    docs = sorted(r["doc_id"] for r in res)
    assert docs == sorted(r["doc_id"] for r in res2)
    kept = {
        r["term_id"]
        for r in info.parent.where(F.col("ckey") == repr(node)).collect()
    }
    assert len(kept) == 100

    # the driver snapshot's expansion: same kept terms, docs and warning
    monkeypatch.setattr(search, "LOCAL_SNAPSHOT_MAX_BYTES", 1 << 62)
    monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", 1 << 62)
    caplog.clear()
    local = IndexReader(spark, str(tmp_path / "idx"), capped)
    assert local.snapshot() is not None
    res3 = run_categories(spark, local, [("Y", "y*")], scored=False).collect()
    assert "expansion truncated at 100 terms" in caplog.text
    terms = compile_queries(local, [("Y", "y*")])[0]["Y"].terms
    assert {term_id_of(TEXT_NO_CAS_NO_PUNC, t) for t in terms} == kept
    assert sorted(r["doc_id"] for r in res3) == docs
