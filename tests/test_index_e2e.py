"""End-to-end engine tests: build the inverted index with Spark, run the
category queries through the distributed path, and assert match-set AND
score parity with the brute-force oracle (SURVEY.md §5 items 3-4)."""

import math

import pytest

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig, FieldSpec
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
    OracleIndex,
    build_oracle_doc,
)
from ds_discovery_opensearch_taxonomy_spark.operators.search import (
    IndexReader,
    run_categories,
)
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    load_categories,
    synthesize_corpus,
    with_doc_ids,
)

# small salt target + >1 band + >1 bucket so the skew/salting/banding
# machinery is exercised even at test scale
TEST_CONFIG = EngineConfig(
    n_term_buckets=4,
    salt_target_postings=64,
    max_salts=8,
    n_eval_bands=2,
)

N_DOCS = 400

REPRESENTATIVE = [
    "Air Force",
    "Chartism",
    "Freemasons",
    "Rationing",
    "UFOs",
    "Votes for women",
    "Europe",
]

SYNTHETIC = [
    ("X_RANGE", '"ration" AND START_DATE:{1950-01-01 TO *}'),
    ("X_SOURCE", "women AND SOURCE:[0 TO 60]"),
    ("X_CASPUNC", "textcaspunc:suffrage OR textcaspunc:\"women's\""),
    ("X_CASNOPUNC", "textcasnopunc:MELODY"),
    ("X_WILD", "suffrag* NOT chartism"),
    ("X_LEADWILD", "*mason"),
    # fuzzy: misspellings within edit distance of real vocabulary words;
    # scored via per-term boosts 1 - d/min_len summed (BooleanQuery rewrite)
    ("X_FUZZY", "sufrage~1 OR charism~2"),
    ("X_FUZZY_SCORED", "ration~1^2 OR women"),
    # match-all syntax (Q11) incl. as the positive leg of a NOT
    ("X_MATCHALL", "*:*"),
    ("X_MATCHALL_NOT", '*:* NOT "chartism"'),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("index")
    corpus = with_doc_ids(synthesize_corpus(spark, N_DOCS))
    cat = build_index(spark, corpus, str(out), TEST_CONFIG)
    rows = [r.asDict() for r in corpus.collect()]
    oracle_docs = [
        build_oracle_doc(
            r["doc_id"],
            r,
            TEST_CONFIG,
            doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
        )
        for r in rows
    ]
    oracle = OracleIndex(oracle_docs, TEST_CONFIG)
    reader = IndexReader(spark, str(out), TEST_CONFIG)
    return cat, oracle, reader, rows


def _category_queries():
    cats = load_categories()
    chosen = [
        (c["category_id"], c["query_text"])
        for c in cats
        if c["title"] in REPRESENTATIVE
    ]
    return chosen + SYNTHETIC


def test_manifest_complete(built):
    cat, _, _, _ = built
    m = cat.manifest()
    assert len(m["buckets"]) == TEST_CONFIG.n_term_buckets
    assert "complete" in m["stages"]
    for b in m["buckets"].values():
        assert b["postings"] > 0 and b["bytes"] > 0


def test_sha_invariant(built, spark):
    _, _, reader, rows = built
    docs = reader.docs().select("doc_id", "content_sha").collect()
    assert len(docs) == N_DOCS
    import hashlib

    by_id = {r["doc_id"]: r["content_sha"] for r in docs}
    for r in rows[:50]:
        assert by_id[r["doc_id"]] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_salting_applied(built, spark):
    _, _, reader, _ = built
    heavy = (
        reader.postings().select("term_id", "salt").distinct()
        .groupBy("term_id").count().where("count > 1").count()
    )
    assert heavy > 0, "expected at least one salted (heavy) term at this scale"


@pytest.mark.parametrize("scored", [True, False])
def test_match_set_parity(built, spark, scored):
    _, oracle, reader, _ = built
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    queries = _category_queries()
    results = run_categories(spark, reader, queries, scored=scored).collect()
    got: dict[str, dict[int, float]] = {}
    for r in results:
        got.setdefault(r["category_id"], {})[r["doc_id"]] = r["score"]
    for cid, qtext in queries:
        node = parse_query(qtext, TEST_CONFIG)
        expected = dict(oracle.matching_docs(node))
        g = got.get(cid, {})
        assert set(g) == set(expected), (
            f"{cid}: engine={len(g)} oracle={len(expected)} "
            f"only_engine={list(set(g) - set(expected))[:5]} "
            f"only_oracle={list(set(expected) - set(g))[:5]}"
        )
        if scored:
            for d, s in expected.items():
                assert math.isclose(g[d], s, rel_tol=1e-9, abs_tol=1e-12), (
                    f"{cid} doc {d}: engine={g[d]} oracle={s}"
                )


def test_topk_rank_parity(built, spark):
    _, oracle, reader, _ = built
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    queries = _category_queries()
    k = 5
    results = run_categories(spark, reader, queries, scored=True, top_k=k).collect()
    got: dict[str, list[int]] = {}
    for r in sorted(results, key=lambda r: (r["category_id"], -r["score"], r["doc_id"])):
        got.setdefault(r["category_id"], []).append(r["doc_id"])
    for cid, qtext in queries:
        node = parse_query(qtext, TEST_CONFIG)
        expected = [d for d, _ in oracle.matching_docs(node)][:k]
        assert got.get(cid, []) == expected, f"{cid}"


#: pure-SHOULD queries: a rarer clause plus one or two common ones, so
#: the k-th score soon exceeds the remaining clauses' upper bounds and the
#: pruning phase of the block-max path runs; with exact and sloppy phrases
TOPK_DISJUNCTIONS = [
    ("T_TERMS2", "pankhurst OR air"),
    ("T_TERMS3", "emergency OR passenger OR master"),
    ("T_PHRASE", '"emmeline pankhurst" OR royal'),
    ("T_SLOPPY", '("sylvia pankhurst"~5) OR air OR chancery'),
    ("T_MIXED", '"votes for women" OR ("women suffrage"~3) OR women OR '
     'suffrage OR chartism OR "air force" OR ("air ministry"~2)'),
]


def test_block_max_topk_matches_full_eval(built, spark, monkeypatch):
    """The block-max top-k path (``eval_topk``) runs only for groups of at
    least ``_TOPK_MIN_POSTINGS`` postings; forced on for every group, it
    must return the rows the full evaluation returns, for every category
    and several k."""
    from ds_discovery_opensearch_taxonomy_spark.operators import search

    _, _, reader, _ = built
    pairs = [
        (c["category_id"], c["query_text"]) for c in load_categories()
    ] + TOPK_DISJUNCTIONS

    def rows(k):
        return sorted(
            (r["category_id"], r["doc_id"], r["score"])
            for r in run_categories(
                spark, reader, pairs, scored=True, top_k=k
            ).collect()
        )

    for k in (1, 5, 20):
        want = rows(k)
        # eval_group is pickled by value with the global's current value
        monkeypatch.setattr(search, "_TOPK_MIN_POSTINGS", 0)
        got = rows(k)
        monkeypatch.undo()
        assert {c for c, _, _ in want} >= {c for c, _ in TOPK_DISJUNCTIONS}
        assert [(c, d) for c, d, _ in got] == [(c, d) for c, d, _ in want]
        for (_, _, g), (_, _, w) in zip(got, want):
            assert math.isclose(g, w, rel_tol=1e-12, abs_tol=0.0)


def test_all_136_categories_parity(built, spark):
    """Engine vs oracle on the COMPLETE 136-query reference set: equal
    per-category doc sets, identical BM25 scores."""
    _, oracle, reader, _ = built
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    cats = load_categories()
    pairs = [(c["category_id"], c["query_text"]) for c in cats]
    results = run_categories(spark, reader, pairs, scored=True).collect()
    got: dict[str, dict[int, float]] = {cid: {} for cid, _ in pairs}
    for r in results:
        got[r["category_id"]][r["doc_id"]] = r["score"]
    n_matched_categories = 0
    for cid, qtext in pairs:
        node = parse_query(qtext, TEST_CONFIG)
        expected = dict(oracle.matching_docs(node))
        g = got[cid]
        assert set(g) == set(expected), (
            f"{cid}: engine={len(g)} oracle={len(expected)}"
        )
        for d, s in expected.items():
            assert math.isclose(g[d], s, rel_tol=1e-9, abs_tol=1e-12), (
                f"{cid} doc {d}: {g[d]} vs {s}"
            )
        if expected:
            n_matched_categories += 1
    # the fragment-salted corpus must exercise a healthy share of categories
    assert n_matched_categories >= 25, n_matched_categories


def test_air_force_reference_doc(built, spark):
    """Reference assertion: row 0 (AIR 37/177 verbatim) is categorised
    'Air Force' (ElasticCategoriserRepositoryTest.cs)."""
    _, _, reader, rows = built
    cats = load_categories()
    air = next(c for c in cats if c["title"] == "Air Force")
    res = run_categories(
        spark, reader, [(air["category_id"], air["query_text"])], scored=True
    ).collect()
    air_doc_id = rows[0]["doc_id"]
    assert any(r["doc_id"] == air_doc_id for r in res)


def test_ord_passes_tolerate_empty_trailing_partitions(spark, tmp_path_factory):
    """A tiny file split to satisfy minPartitionNum plans byte ranges with
    NO rows (parquet row-groups don't split), so scan partitions can
    outnumber the non-empty pids the offsets pass saw.  attach_ords and the
    tokenize pass must treat over-range EMPTY partitions as legal (the
    streaming micro-batch append hits this on every small batch) while still
    failing loudly if rows show up there."""
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        attach_ords,
        expected_counts,
        partition_offsets,
    )
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import with_doc_ids

    out = tmp_path_factory.mktemp("tinyfile")
    src = spark.createDataFrame(
        [(f"r{i}", f"p{i}.py", f"{i:040x}", "py", f"alpha beta doc{i}")
         for i in range(5)],
        "repo string, path string, commit string, lang string, content string",
    )
    with_doc_ids(src).coalesce(1).write.mode("overwrite").parquet(str(out / "c"))
    old = spark.conf.get("spark.sql.files.minPartitionNum", None)
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.minPartitionNum", "16")
    # default 4 MB openCost floors split size above the whole file; drop it
    # so the tiny file really splits into empty byte-range partitions
    spark.conf.set("spark.sql.files.openCostInBytes", "16")
    try:
        corpus = spark.read.parquet(str(out / "c"))
        n_parts = corpus.rdd.getNumPartitions()
        offsets, n_docs = partition_offsets(corpus)
        assert n_docs == 5
        # the regression precondition: more planned partitions than offsets
        assert n_parts > len(offsets), (n_parts, len(offsets))
        got = attach_ords(
            corpus, offsets, expected_counts(offsets, n_docs)
        ).select("ord").collect()
        assert sorted(r["ord"] for r in got) == list(range(5))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", old)
        if old_cost is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
