"""Filter context semantics: filters restrict candidates INSIDE the
evaluator (before scoring/top-k), contribute no score, and keep BM25 stats
global — reference Must/Filter split (OpenSearchConnection.cs:393-402)."""

import math

import pytest

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
    OracleIndex,
    build_oracle_doc,
)
from ds_discovery_opensearch_taxonomy_spark.operators import search
from ds_discovery_opensearch_taxonomy_spark.operators.search import run_categories
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_ids,
)

CONFIG = EngineConfig(n_term_buckets=2, n_eval_bands=2)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("filterctx")
    corpus = with_doc_ids(synthesize_corpus(spark, 200))
    build_index(spark, corpus, str(out), CONFIG)
    rows = [r.asDict() for r in corpus.collect()]
    oracle = OracleIndex(
        [
            build_oracle_doc(
                r["doc_id"], r, CONFIG,
                doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
            )
            for r in rows
        ],
        CONFIG,
    )
    eng = TaxonomyEngine(spark, str(out), CONFIG)
    return eng, oracle, rows


def test_filtered_search_matches_oracle(built, spark):
    """engine.search(filters=...) == oracle over BoolNode(MUST query,
    FILTER MetaIn) — candidates restricted, scores unchanged and global."""
    eng, oracle, _ = built
    qtext = '"women" OR "chartism"'
    got = {
        r["doc_id"]: r["score"]
        for r in eng.search(
            qtext, limit=500, filters={"lang": ["python", "sql"]}
        ).collect()
    }
    node = qp.BoolNode(
        (
            (qp.Occur.MUST, qp.parse_query(qtext, CONFIG)),
            (qp.Occur.FILTER, qp.MetaInNode("lang", ("python", "sql"))),
        )
    )
    expected = dict(oracle.matching_docs(node))
    assert set(got) == set(expected)
    assert got  # filter is selective but non-empty at this scale
    for d, s in expected.items():
        assert math.isclose(got[d], s, rel_tol=1e-9, abs_tol=1e-12)
    # and the filter really restricted: unfiltered match set is larger
    unfiltered = eng.search(qtext, limit=500).collect()
    assert len(unfiltered) > len(got)


def test_filter_clause_inside_eval_not_post_join(built, spark, monkeypatch):
    """The filtered plan contains NO join against the docs table after the
    evaluator — the filter rides the eval shuffle as virtual posting
    blocks (the docs scan feeds block ENCODING, before applyInPandas).
    The plan under test is the Spark fetcher's: forced, since this small
    index is otherwise served in the driver."""
    monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", -1)
    eng, _, _ = built
    df = eng.search('"women"', limit=10, filters={"lang": ["python"]})
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the eval output is (category_id, doc_id, score); a post-join design
    # would join doc_id AFTER FlatMapGroupsInPandas. Assert the pandas
    # eval exists and nothing joins on doc_id above it.
    assert "FlatMapGroupsInPandas" in plan
    above_eval = plan.split("FlatMapGroupsInPandas")[0]
    assert "SortMergeJoin [doc_id" not in above_eval
    assert "BroadcastHashJoin [doc_id" not in above_eval


def test_filter_with_topk_cut_exact(built, spark):
    """top-k with a filter stays exact: top-5 of the filtered set equals
    the oracle's first five (score desc, doc_id asc)."""
    eng, oracle, _ = built
    qtext = '"women" OR "suffrage" OR "movement"'
    node = qp.BoolNode(
        (
            (qp.Occur.MUST, qp.parse_query(qtext, CONFIG)),
            (qp.Occur.FILTER, qp.MetaInNode("lang", ("java", "go"))),
        )
    )
    expected = [d for d, _ in oracle.matching_docs(node)][:5]
    got = [
        r["doc_id"]
        for r in sorted(
            eng.search(qtext, limit=5, filters={"lang": ["java", "go"]}).collect(),
            key=lambda r: (-r["score"], r["doc_id"]),
        )
    ]
    assert got == expected


def test_pure_filter_and_filter_only_bool(built, spark):
    """FILTER-only bool: candidates from the filter, score 0 (OpenSearch
    constant filter context)."""
    eng, oracle, rows = built
    res = run_categories(
        spark, eng.reader, [("F", "*:*")], scored=True,
        extra_filters=(qp.MetaInNode("lang", ("sql",)),),
    ).collect()
    expected_ids = {r["doc_id"] for r in rows if r["lang"] == "sql"}
    assert {r["doc_id"] for r in res} == expected_ids


def test_scoped_facets(built, spark):
    eng, oracle, rows = built
    node = qp.parse_query('"women"', CONFIG)
    match_ids = {d for d, _ in oracle.matching_docs(node)}
    expected: dict[str, int] = {}
    for r in rows:
        if r["doc_id"] in match_ids:
            expected[r["lang"]] = expected.get(r["lang"], 0) + 1
    got = {
        r["lang"]: r["count"]
        for r in eng.facets("lang", query_text='"women"').collect()
    }
    assert got == expected
    # unscoped facets still count the whole corpus
    total = sum(
        r["count"] for r in eng.facets("lang").collect()
    )
    assert total == 200


def test_virtual_cache_is_lru_bounded(built, spark, monkeypatch):
    """The per-reader virtual-block cache evicts (and unpersists) its
    oldest entries past the cap — an API serving varied filter clauses
    must not accumulate persisted storage for the reader's lifetime.
    The cache is the Spark fetcher's: forced, since this small index is
    otherwise served in the driver."""
    monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", -1)
    eng, _, _ = built
    reader = eng.reader
    reader._virtual_cache_max = 2
    for langs in (["python"], ["sql"], ["go"], ["rust"]):
        eng.search('"women"', limit=5, filters={"lang": langs}).collect()
    assert len(reader._virtual_cache) <= 2
    # evicted entries were unpersisted, survivors still persisted
    for df in reader._virtual_cache.values():
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    # cache hits still return correct results after evictions
    n = eng.search('"women"', limit=500, filters={"lang": ["python"]}).count()
    assert n > 0
